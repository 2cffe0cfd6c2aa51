"""Reference answers the benchmark checks every timed job against.

Each oracle reads the same generated parquet inputs the library receives
and recomputes the expected output without Spark: DuckDB for the
transcript derivation (the ``GRAPH_CTES`` SQL of
``graphlite_spark.oracle``) and for the triangle count (its ``_TRI_CTES``),
NumPy for PageRank and label propagation, and a union-find for connected
components.  Results are cached per (workload, seed, workload
constants), so a repeated seed skips the recomputation.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np

from graphlite_spark import oracle as sql_oracle

# the PageRank recurrence of algos.pagerank (unnormalized, reference EPS)
DAMPING = 0.85
BASE = 0.15


def _duckdb(tmp_dir: Path):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _graph_ctes_over(transcripts_path: str) -> str:
    """``GRAPH_CTES`` with its events-to-transcripts adapter replaced by a
    scan of the generated transcript parquet: the vertex, edge, degree and
    undirected-closure CTEs are reused verbatim."""
    _, rest = sql_oracle.GRAPH_CTES.split("\nvertices AS MATERIALIZED", 1)
    return (
        f"transcripts AS MATERIALIZED (SELECT conv_id, turn_idx, role, text, tool "
        f"FROM read_parquet('{transcripts_path}/*.parquet')),\n"
        f"vertices AS MATERIALIZED{rest}"
    )


def derived_graph(transcripts_path: str, tmp_dir: Path) -> dict[str, np.ndarray]:
    """Vertex ids and (src, dst, is_tool) edges of ``derive_vertices`` /
    ``derive_edges``, computed by DuckDB."""
    con = _duckdb(tmp_dir)
    try:
        ctes = _graph_ctes_over(transcripts_path)
        ids = con.execute(f"WITH {ctes} SELECT id FROM vertices ORDER BY id").fetchnumpy()
        e = con.execute(
            f"WITH {ctes} SELECT src, dst, CAST(etype = 'tool' AS INT) AS tool "
            "FROM edges ORDER BY src, dst, tool"
        ).fetchnumpy()
    finally:
        con.close()
    return {
        "ids": ids["id"].astype(np.int64),
        "src": e["src"].astype(np.int64),
        "dst": e["dst"].astype(np.int64),
        "tool": e["tool"].astype(np.int64),
    }


def triangle_count(edges_path: str, tmp_dir: Path) -> int:
    """Exact global triangle count of the undirected closure (DuckDB)."""
    con = _duckdb(tmp_dir)
    try:
        con.execute(
            f"CREATE VIEW edges AS SELECT src, dst FROM read_parquet('{edges_path}/*.parquet')"
        )
        (n,) = con.execute(
            f"WITH {sql_oracle._TRI_CTES} SELECT count(*) FROM tri"
        ).fetchone()
    finally:
        con.close()
    return int(n)


def edge_arrays(edges_path: str, vertices_path: str, tmp_dir: Path):
    con = _duckdb(tmp_dir)
    try:
        e = con.execute(f"SELECT src, dst FROM read_parquet('{edges_path}/*.parquet')").fetchnumpy()
        v = con.execute(
            f"SELECT id FROM read_parquet('{vertices_path}/*.parquet') ORDER BY id"
        ).fetchnumpy()
    finally:
        con.close()
    return v["id"].astype(np.int64), e["src"].astype(np.int64), e["dst"].astype(np.int64)


def _index(ids: np.ndarray, x: np.ndarray) -> np.ndarray:
    pos = np.searchsorted(ids, x)
    if not np.array_equal(ids[np.minimum(pos, len(ids) - 1)], x):
        raise ValueError("edge endpoint missing from the vertex set")
    return pos


def pagerank(
    ids: np.ndarray,
    src: np.ndarray,
    dst: np.ndarray,
    eps: float = 1e-6,
    fixed_supersteps: int | None = None,
    max_supersteps: int = 200,
) -> tuple[np.ndarray, int]:
    """(values in ``ids`` order, supersteps run) under the engine's
    PageRank semantics: superstep 0 sets every value to 1.0; each later
    superstep sets ``0.15 + 0.85 * sum(in-messages)`` where a message is
    ``value / out_degree`` per arc (duplicates count); from superstep 2 on,
    if the previous superstep's sum of |delta| fell below ``eps`` every
    vertex halts unchanged and that superstep is the last."""
    n = len(ids)
    s, d = _index(ids, src), _index(ids, dst)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    safe = np.where(outdeg > 0, outdeg, 1.0)
    limit = fixed_supersteps if fixed_supersteps is not None else max_supersteps
    val = np.ones(n)
    sum_delta = 0.0
    for ss in range(1, limit):
        if fixed_supersteps is None and ss >= 2 and sum_delta < eps:
            return val, ss + 1
        inbox = np.bincount(d, weights=(val / safe)[s], minlength=n)
        new = BASE + DAMPING * inbox
        sum_delta = float(np.abs(val - new).sum())
        val = new
    return val, limit


def undirected_pairs(ids: np.ndarray, src: np.ndarray, dst: np.ndarray):
    """Distinct (u, v) index pairs of the symmetric closure, no self-loops
    (``algos.components.symmetrize``)."""
    s, d = _index(ids, src), _index(ids, dst)
    keep = s != d
    a = np.concatenate([s[keep], d[keep]])
    b = np.concatenate([d[keep], s[keep]])
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def components(ids: np.ndarray, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Minimum vertex id of each vertex's undirected component, by
    union-find with path halving."""
    parent = np.arange(len(ids))
    s, d = _index(ids, src), _index(ids, dst)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(s.tolist(), d.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # ids are sorted, so the smaller index is the smaller id
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(len(ids))], dtype=np.int64)
    return ids[roots]


def label_propagation(
    ids: np.ndarray, src: np.ndarray, dst: np.ndarray, iterations: int
) -> np.ndarray:
    """Synchronous LPA of ``algos.lpa``: labels start as ids; each
    iteration every vertex adopts the most frequent label among its
    undirected neighbours, ties to the smallest label; a vertex without
    neighbours keeps its label."""
    u, v = undirected_pairs(ids, src, dst)
    labels = ids.copy()
    for _ in range(iterations):
        lab = labels[u]
        # count (dst, label) pairs, then per dst take max count, min label
        keys, counts = np.unique(np.stack([v, lab], axis=1), axis=0, return_counts=True)
        order = np.lexsort((keys[:, 1], -counts, keys[:, 0]))
        ranked = keys[order]
        first = np.ones(len(ranked), dtype=bool)
        first[1:] = ranked[1:, 0] != ranked[:-1, 0]
        new = labels.copy()
        new[ranked[first, 0]] = ranked[first, 1]
        labels = new
    return labels


def cache_name(workload, seed: int) -> str:
    """Cache file name: the workload, the seed and a digest of the
    workload's size and iteration constants (its upper-case class
    attributes), so changing a size never meets a stale answer."""
    params = sorted((k, v) for k, v in vars(type(workload)).items() if k.isupper())
    digest = hashlib.sha1(repr(params).encode()).hexdigest()[:12]
    return f"{workload.name}-seed{seed}-{digest}.npz"


def cached(path: Path, compute) -> dict[str, np.ndarray]:
    """Load ``path`` (.npz) if present, else compute, store and return."""
    if path.exists():
        with np.load(path) as z:
            return {k: z[k] for k in z.files}
    out = {k: np.asarray(v) for k, v in compute().items()}
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(path.name + ".tmp.npz")
    np.savez(tmp, **out)
    tmp.replace(path)
    return out
