"""Output checks for the benchmark's query results.

Each oracle-gated query's output is compared with DuckDB's evaluation of
its SparkEntry.oracleSql text over the same parquet files, with the
canonical compare of tools/check_oracle.py: columns sorted by name, rows
sorted, values equal. The ungated queries have a property their method
must have (PROPERTIES). A verdict is "OK", "WRONG: ..." (the output is
wrong) or "CHECK_ERROR: ..." (the check itself could not be made).
"""
import glob
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def _plain(v):
    """numpy scalars and arrays as plain Python values (lists as tuples)."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, list):
        return tuple(_plain(x) for x in v)
    return v


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def canon(df):
    """tools/check_oracle.py's canonical form: columns by name, rows sorted."""
    cols = sorted(df.columns)
    rows = [tuple(_plain(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr), cols


def oracle_verdict(spark_df, duck_df):
    s_rows, s_cols = canon(spark_df)
    d_rows, d_cols = canon(duck_df)
    if s_cols != d_cols:
        return f"WRONG: columns {s_cols} vs oracle {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"WRONG: {len(s_rows)} rows vs oracle {len(d_rows)}"
    for a, b in zip(s_rows, d_rows):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return f"WRONG: row {a} vs oracle {b}"
    return "OK"


def hits_verdict(df, _con, _inputs):
    """q281: on each side (hub, authority) the nodes are distinct and the
    HITS scores lie in [0, 1]. The query normalises each side's scores by
    their L2 norm and reports the top k, so their squares sum to at most
    1 (a maximum of exactly 1 would hold only under max-normalisation)."""
    if list(sorted(df.columns)) != ["node_id", "role", "score"]:
        return f"WRONG: columns {sorted(df.columns)}"
    for role in ("authority", "hub"):
        side = df[df["role"] == role]
        s = side["score"].tolist()
        if not s:
            return f"WRONG: no {role} rows"
        if side["node_id"].nunique() != len(s):
            return f"WRONG: a {role} node is reported twice"
        if any(not (0.0 <= x <= 1.0) for x in s):
            return f"WRONG: {role} score outside [0, 1]"
        if sum(x * x for x in s) > 1.0 + 1e-5:
            return f"WRONG: {role} scores have a squared sum above 1"
    return "OK"


def kcore_verdict(df, _con, inputs):
    """q118: for every k, each vertex with core >= k has at least k
    neighbours among the vertices with core >= k (the k-core property),
    over the co-occurrence edges the query peels."""
    edges = inputs["edges"]
    core = dict(zip(df["entity_id"].tolist(), df["core"].tolist()))
    adj = {}
    for a, b in zip(edges["src"].tolist(), edges["dst"].tolist()):
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    if set(core) != set(adj):
        return f"WRONG: {len(core)} vertices vs {len(adj)} in the graph"
    for v, k in core.items():
        inside = sum(1 for u in adj[v] if core[u] >= k)
        if inside < k:
            return f"WRONG: {v} has core {k} but {inside} neighbours in the {k}-core"
    return "OK"


def _shingles(text, n=3):
    """Distinct word 3-shingles: tokens split on single spaces, empty
    tokens dropped (graft.expr.WsTokenize), n consecutive tokens joined
    by one space (graft.ops.Dedup.shingles)."""
    toks = [t for t in (text or "").split(" ") if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


LSH_MIN_EXACT = 0.2


def lsh_pair_verdict(df, con, _inputs):
    """q285: every reported pair is a real near-duplicate. The exact
    Jaccard similarity of the two documents' shingle sets, recomputed
    here, is at least LSH_MIN_EXACT. The query reports pairs whose
    16-hash MinHash estimate is at least 0.5, and the estimate's
    standard error is at most 0.125, so a true pair lies well above
    0.2. Each pair is also ordered (doc_a < doc_b) and reported once."""
    pairs = list(zip(df["doc_a"].tolist(), df["doc_b"].tolist()))
    if not pairs:
        return "WRONG: no pairs"
    if len(set(pairs)) != len(pairs) or any(a >= b for a, b in pairs):
        return "WRONG: pairs are not distinct ordered (doc_a < doc_b) pairs"
    ids = sorted({i for p in pairs for i in p})
    text = dict(con.execute(
        "SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT unnest(?))",
        [ids]).fetchall())
    for a, b in pairs:
        sa, sb = _shingles(text.get(a)), _shingles(text.get(b))
        exact = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        if exact < LSH_MIN_EXACT:
            return f"WRONG: pair ({a}, {b}) has exact Jaccard {exact:.3f}"
    return "OK"


PROPERTIES = {
    "q281_hits_bipartite": (hits_verdict, None),
    "q118_kcore": (kcore_verdict, "edges"),
    "q285_streaming_lsh_dedup": (lsh_pair_verdict, None),
}


def check_outputs(sf_dir, check_dir, oracles, queries):
    """Verdict per query for the outputs written under check_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def read(name):
        files = sorted(glob.glob(f"{check_dir}/{name}/*.parquet"))
        return con.sql(f"SELECT * FROM read_parquet({files!r})").df() if files else None

    verdicts = {}
    for q in queries:
        try:
            df = read(q)
            if df is None:
                verdicts[q] = "CHECK_ERROR: no output written"
                continue
            if q in oracles:
                verdicts[q] = oracle_verdict(df, con.sql(oracles[q]).df())
            elif q in PROPERTIES:
                fn, extra = PROPERTIES[q]
                inputs = {extra: read(f"_input_{q}")} if extra else {}
                verdicts[q] = fn(df, con, inputs)
            else:
                verdicts[q] = "CHECK_ERROR: no oracle and no property check"
        except Exception as e:  # a check that cannot run is not a wrong result
            verdicts[q] = f"CHECK_ERROR: {type(e).__name__}: {e}"
    return verdicts
