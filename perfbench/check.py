"""Output checks of one benchmark run, made apart from the program.

- Gate workloads: each gate's output is compared with its oracle query
  (`SparkEntry.oracleSql`) run in DuckDB over the same parquet tables,
  with the comparison rules of the repository's correctness gate: columns
  sorted by name, rows sorted, integers widened, exact values (doubles
  within 1e-12).
- `graph-iterative` also checks properties the methods must have:
  PageRank mass sums to 1 within the rounding grid, every edge's endpoints
  share a component label, and no shortest-path distance undercuts the
  best relaxation of its incoming edges.
- `view-maintenance`: the final join view equals a from-scratch aggregate
  over the feed's net rows, and the dedup sink received each distinct text
  exactly once.

Each check returns a list of problems; an empty list means it passed.
"""
import hashlib
import json
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# graft.GraphGates constants the properties depend on.
KHOP_QTY = 48
KHOP_SEEDS = 5
PR_SCALE = 7


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list:
    a, b = norm(got), norm(want)
    if list(a.columns) != list(b.columns):
        return [f"{name}: columns {list(a.columns)} != {list(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows, expected {len(b)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = ((av.isna() & bv.isna()) | (av == bv) | ((av - bv).abs() < 1e-12)).all()
        elif av.dtype == bv.dtype and av.dtype.kind in "iubO":
            ok = (av == bv).all()
        else:
            ok = (av.astype(str) == bv.astype(str)).all()
        if not ok:
            bad = av.astype(str) != bv.astype(str)
            i = bad[bad].index[0]
            return [f"{name}: column {c} differs, first at row {i}: "
                    f"got {a.loc[i].to_dict()} expected {b.loc[i].to_dict()}"]
    return []


def connect(data_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def read_output(d: Path) -> pd.DataFrame:
    parts = sorted(d.glob("*.parquet"))
    if not parts:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


# --- graph properties ----------------------------------------------------

def transitions_sql(min_qty: int) -> str:
    """The supplier hand-off digraph, with the cheapest next-line quantity
    as weight: consecutive lines of one order, self-hops dropped."""
    return f"""
        SELECT src, dst, min(nq)::BIGINT AS w FROM (
          SELECT l_suppkey::BIGINT AS src,
                 lead(l_suppkey) OVER w AS dst, lead(l_quantity) OVER w AS nq
          FROM lineitem WHERE l_quantity >= {min_qty}
          WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_suppkey, l_quantity))
        WHERE dst IS NOT NULL AND dst != src GROUP BY src, dst"""


def pagerank_mass(df: pd.DataFrame) -> list:
    tol = len(df) * 10.0 ** -PR_SCALE
    mass = float(df["rank"].sum())
    return [] if abs(mass - 1.0) <= tol else [f"pagerank mass {mass} is not 1 within {tol}"]


def component_edges(con, df: pd.DataFrame) -> list:
    con.register("labels", df)
    bad = con.sql(f"""
        SELECT count(*) FROM ({transitions_sql(KHOP_QTY)}) e
        LEFT JOIN labels a ON a.node = e.src LEFT JOIN labels b ON b.node = e.dst
        WHERE a.component IS NULL OR b.component IS NULL OR a.component != b.component
    """).fetchone()[0]
    con.unregister("labels")
    return [] if bad == 0 else [f"components: {bad} edges join different or missing labels"]


def sssp_relaxation(con, df: pd.DataFrame) -> list:
    con.register("dist", df)
    bad = con.sql(f"""
        WITH e AS ({transitions_sql(KHOP_QTY)}),
        best AS (SELECT e.dst AS node, min(d.dist + e.w) AS relax
                 FROM e JOIN dist d ON d.node = e.src GROUP BY e.dst)
        SELECT count(*) FROM dist d LEFT JOIN best b ON b.node = d.node
        WHERE d.node > {KHOP_SEEDS} AND (b.relax IS NULL OR d.dist < b.relax)
    """).fetchone()[0]
    con.unregister("dist")
    return [] if bad == 0 else [f"sssp: {bad} distances undercut their incoming relaxation"]


def properties(con, gate: str, df: pd.DataFrame) -> list:
    if gate == "q154_pagerank":
        return pagerank_mass(df)
    if gate == "q179_components":
        return component_edges(con, df)
    if gate == "q183_sssp":
        return sssp_relaxation(con, df)
    return []


def expected(con, data_dir: Path, cache: Path, gate: str, sql: str) -> pd.DataFrame:
    """The oracle's result. The gate inputs do not depend on the seed, so
    it is computed once per oracle text and input set and kept in `cache`
    (some oracles run for a minute; every run still compares against it).
    """
    key = hashlib.sha256((sql + (data_dir.parent / "SHA256SUMS").read_text()).encode())
    path = cache / f"{gate}-{key.hexdigest()[:16]}.parquet"
    if not path.is_file():
        cache.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        con.sql(sql).write_parquet(str(tmp))
        tmp.rename(path)
    return pd.read_parquet(path)


def prepare_oracles(data_dir: Path, cache: Path, oracle: dict) -> None:
    con = connect(data_dir)
    for gate, sql in sorted(oracle.items()):
        expected(con, data_dir, cache, gate, sql)


def check_gates(data_dir: Path, cache: Path, run_dir: Path, skip: set) -> list:
    """`skip`: gates whose evaluation failed; failures are counted, not checked."""
    outputs = run_dir / "outputs"
    oracle = json.loads((outputs / "oracle_sql.json").read_text())
    con = connect(data_dir)
    problems = []
    for gate, sql in sorted(oracle.items()):
        if gate in skip:
            continue
        got = read_output(outputs / gate)
        problems += compare(gate, got, expected(con, data_dir, cache, gate, sql))
        problems += properties(con, gate, got)
    return problems


# --- view-maintenance ----------------------------------------------------

def reference_view(con, feed: Path) -> pd.DataFrame:
    """The join view recomputed from scratch over base + inserts - deletes."""
    def side(i, cols):
        return f"""
            (SELECT {cols} FROM (
               SELECT row_id, {cols} FROM read_parquet('{feed}/base_{i}.parquet')
               UNION ALL
               SELECT row_id, {cols} FROM read_parquet('{feed}/jv.parquet')
               WHERE side = '{i}' AND op = 'insert')
             WHERE row_id NOT IN (SELECT row_id FROM read_parquet('{feed}/jv.parquet')
                                  WHERE side = '{i}' AND op = 'delete'))"""
    return con.sql(f"""
        SELECT s0.grp AS grp, count(*)::BIGINT AS n, sum(s2.value)::DOUBLE AS total
        FROM {side(0, 'ka, grp')} s0
        JOIN {side(1, 'ka, kb')} s1 ON s1.ka = s0.ka
        JOIN {side(2, 'kb, value')} s2 ON s2.kb = s1.kb
        GROUP BY s0.grp""").df()


def check_view_maintenance(run_dir: Path) -> list:
    feed, outputs = run_dir / "feed", run_dir / "outputs"
    con = duckdb.connect()
    problems = compare("join view", read_output(outputs / "view"), reference_view(con, feed))
    sink = json.loads((outputs / "dedup_sink.json").read_text())
    texts = con.sql(f"SELECT DISTINCT text FROM read_parquet('{feed}/dd.parquet')").fetchall()
    want = {hashlib.md5(t.encode("utf-8")).hexdigest() for (t,) in texts}
    if len(sink) != len(set(sink)):
        problems.append(f"dedup sink: {len(sink) - len(set(sink))} texts delivered twice")
    if set(sink) != want:
        problems.append(f"dedup sink: {len(want - set(sink))} texts missing, "
                        f"{len(set(sink) - want)} unexpected")
    return problems
