"""Output checks for the pipeline benchmark, run after the timed passes.

Each check replays a workload's answer independently (DuckDB over the
generated parquet, or a closed form over the inputs) and compares it with
what the program produced. Every failed check counts in `failed`.
"""
import glob
import os

import duckdb

# The rewrite fixpoint of the typed customer forest: the group and
# relation productions it must end at, and the epoch at which no
# operation fires any more.
PINNED_LHS = {"GROUP::nation", "GROUP::nation_1", "REL::nation", "REL::nation<->nation_1"}
PINNED_EPOCHS = 6
IVF_RECALL_GATE = 0.9
PQ_RERANK_RECALL_GATE = 0.8


class Checked:
    def __init__(self):
        self.results = []
        self.counts = {}

    def add(self, name, ok, detail=""):
        self.results.append({"name": name, "ok": bool(ok), "detail": str(detail)[:300]})


def _connect(data):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _part_lines(path):
    n = 0
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, "rb") as f:
            n += sum(1 for _ in f)
    return n


def _tree_bytes(path):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_")))


def run(workload, record, manifest, data, out):
    c = Checked()
    passes = record["passes"]
    first = passes[0]["facts"]
    diff = [p["pass"] for p in passes if p["facts"] != first]
    c.add("passes_agree", not diff, f"passes differing from pass 0: {diff}")
    con = _connect(data)
    steps = {"simplify-customer": [_simplify], "export-search": [_export, _corpus]}[workload]
    for step in steps:
        step(c, record["final_facts"], manifest, con, out)
    return c


def _simplify(c, facts, manifest, con, out):
    lhs = {p.split(" -> ")[0] for p in facts["productions"]}
    c.add("pinned_productions", lhs == PINNED_LHS, sorted(lhs))
    c.add("epochs_to_converge", facts["epochs_to_converge"] == PINNED_EPOCHS, facts["epochs_to_converge"])
    trees = manifest["tables"]["customer"]["rows"]
    lines = _part_lines(os.path.join(out, "simplified"))
    c.add("jsonl_one_line_per_tree", lines == trees, f"{lines} lines for {trees} trees")


def _distinct_cast(con, sql_from, cols):
    casts = ", ".join(f"CAST({x} AS VARCHAR)" for x in cols)
    return sorted(con.execute(f"SELECT DISTINCT {casts} FROM {sql_from}").fetchall(),
                  key=lambda r: tuple("" if v is None else v for v in r))


def _export(c, facts, manifest, con, out):
    referenced = {
        "orders": "orders",
        "customer": "customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
        "nation": "nation WHERE n_nationkey IN (SELECT c_nationkey FROM customer "
                  "WHERE c_custkey IN (SELECT o_custkey FROM orders))",
        "region": "region WHERE r_regionkey IN (SELECT n_regionkey FROM nation "
                  "WHERE n_nationkey IN (SELECT c_nationkey FROM customer "
                  "WHERE c_custkey IN (SELECT o_custkey FROM orders)))",
    }
    rows = dict(facts["extract_rows"])
    c.add("extract_groups", set(rows) == set(referenced), sorted(rows))
    columns = {}
    for group, sql_from in referenced.items():
        path = os.path.join(out, "extract", group)
        if not os.path.isdir(path):
            c.add(f"extract_{group}", False, "not written")
            continue
        spark_view = f"read_parquet('{path}/*.parquet')"
        cols = sorted(x[0] for x in con.execute(f"DESCRIBE SELECT * FROM {spark_view}").fetchall())
        columns[group] = cols
        got = _distinct_cast(con, spark_view, cols)
        want = _distinct_cast(con, sql_from, cols)
        c.add(f"extract_{group}", got == want and rows.get(group) == len(want),
              f"{len(got)} rows from the program, {len(want)} replayed, columns {cols}")

    cols = columns.get("orders", [])
    if cols:
        per = []
        for consequent in cols:
            ants = [x for x in cols if x != consequent]
            per.append(f"""SELECT '{consequent}' AS consequent,
              (SELECT CAST(sum(m) AS DOUBLE) / (SELECT count(*) FROM ds)
               FROM (SELECT max(cnt) AS m
                     FROM (SELECT {', '.join(cols)}, count(*) AS cnt FROM ds GROUP BY {', '.join(cols)})
                     GROUP BY {', '.join(ants)})) AS confidence""")
        casts = ", ".join(f"CAST({x} AS VARCHAR) AS {x}" for x in cols)
        want = dict(con.execute(f"WITH ds AS (SELECT DISTINCT {casts} FROM orders) "
                                + " UNION ALL ".join(per)).fetchall())
        got = dict(facts["fd_confidence"])
        ok = set(got) == set(want) and all(abs(got[k] - want[k]) <= 1e-12 for k in want)
        c.add("fd_confidence", ok, f"program {got} replay {want}")

    o, cu, n, r = (con.execute(f"SELECT count(*) FROM (SELECT DISTINCT * FROM {referenced[g]})").fetchone()[0]
                   for g in ("orders", "customer", "nation", "region"))
    kinds = {"index": 0, "node": 0, "edge": 0}
    for part in glob.glob(os.path.join(out, "cypher", "part-*")):
        with open(part) as f:
            for line in f:
                kinds["index" if line.startswith("CREATE INDEX") else
                      "node" if line.startswith("MERGE (n:") else "edge"] += 1
    # no collapsible group: one index per group label, one node per
    # referenced row, and one edge per orders->customer, customer->nation
    # and nation->region link
    want = {"index": 4, "node": o + cu + n + r, "edge": o + cu + n}
    c.add("cypher_statement_counts", not facts["collapsible_groups"] and kinds == want,
          f"program {kinds} closed form {want} collapsible {facts['collapsible_groups']}")
    c.counts["cypher.statements"] = sum(kinds.values())

    sql = os.path.join(out, "sql")
    tables = sorted(os.listdir(sql)) if os.path.isdir(sql) else []
    c.add("sql_tables_written", set(referenced) <= set(tables), tables)
    c.counts["sinks.sql.bytes"] = _tree_bytes(sql)


def _corpus(c, facts, manifest, con, out):
    qids = ", ".join(map(str, manifest["qids"]))
    bm25 = con.execute(f"""
      WITH btoks AS (SELECT doc_id AS id,
          unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents),
      btf AS MATERIALIZED (SELECT id, token, count(*) AS tf FROM btoks GROUP BY 1, 2),
      bdl AS MATERIALIZED (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY 1),
      bst AS MATERIALIZED (SELECT
          CAST((SELECT count(DISTINCT doc_id) FROM documents) AS DOUBLE) AS n,
          CAST((SELECT sum(dl) FROM bdl) AS DOUBLE) AS t),
      bdf AS MATERIALIZED (SELECT token, count(*) AS df FROM btf GROUP BY 1),
      bq AS (SELECT id AS qid, token FROM btf WHERE id IN ({qids})),
      bsc AS MATERIALIZED (
        SELECT bq.qid, c.id,
               CAST(sum(CAST(round(
                 ln((n - df + 0.5) / (df + 0.5) + 1.0)
                 * ((CAST(c.tf AS DOUBLE) * 2.2) /
                    (CAST(c.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n / t))))
                 * 1000000.0) AS BIGINT)) AS BIGINT) AS bm25_micro
        FROM bq JOIN btf c ON bq.token = c.token AND c.id <> bq.qid
             JOIN bdf ON bdf.token = c.token JOIN bdl ON bdl.id = c.id, bst
        GROUP BY 1, 2),
      br AS (SELECT qid, id, bm25_micro,
                    row_number() OVER (PARTITION BY qid ORDER BY bm25_micro DESC, id ASC) AS rank
             FROM bsc)
      SELECT qid, id, bm25_micro, rank FROM br WHERE rank <= 10 ORDER BY 1, 2, 3, 4""").fetchall()
    want = [",".join(map(str, r)) for r in bm25]
    c.add("bm25_top10", sorted(facts["bm25_top10"]) == sorted(want),
          f"{len(facts['bm25_top10'])} program rows, {len(want)} replayed")

    brute = con.execute(f"""
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                 FROM embeddings WHERE vec_id IN ({qids})),
      s AS (SELECT qid, vec_id AS neighbor_id,
                   list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
            FROM q, embeddings WHERE vec_id <> qid),
      r AS (SELECT qid, neighbor_id,
                   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC) AS rk
            FROM s)
      SELECT qid, neighbor_id FROM r WHERE rk <= 5""").fetchall()
    want = sorted(f"{a},{b}" for a, b in brute)
    c.add("ann_brute_top5", sorted(facts["ann_brute"]) == want,
          f"{len(facts['ann_brute'])} program pairs, {len(want)} replayed")
    c.add("ann_ivf_recall_gate", facts["ann_ivf_recall"] >= IVF_RECALL_GATE, facts["ann_ivf_recall"])
    c.add("ann_pq_rerank_recall_gate", facts["ann_pq_rerank_recall"] >= PQ_RERANK_RECALL_GATE,
          facts["ann_pq_rerank_recall"])
    # the node-label tally of the parsed forest in closed form over the
    # token stream: every 'customer'/'scan' token survives as an entity,
    # and ROOT and UNDEF counts follow from the 'the'-separated segments
    want = dict(con.execute("""
      WITH lined AS (
        SELECT doc_id, li, list_filter(string_split(ls[li], ' '), x -> x <> '') AS toks
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)
        CROSS JOIN UNNEST(range(1, len(ls) + 1)) AS r(li)),
      tok AS (
        SELECT doc_id, li, i, toks[i] AS t,
          sum(CASE WHEN toks[i] = 'the' THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id, li ORDER BY i)
            - CASE WHEN toks[i] = 'the' THEN 1 ELSE 0 END AS seg
        FROM lined CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS r(i)),
      seg AS (
        SELECT doc_id, li, seg, count(*) FILTER (WHERE t IN ('customer', 'scan')) AS n_ent
        FROM tok GROUP BY 1, 2, 3 HAVING count(*) FILTER (WHERE t <> 'the') > 0),
      segs AS (
        SELECT doc_id, li, count(*) AS nsegs,
          count(*) FILTER (WHERE n_ent = 1) AS m1, count(*) FILTER (WHERE n_ent >= 2) AS m2
        FROM seg GROUP BY 1, 2),
      line AS (
        SELECT l.doc_id, l.li,
          len(list_filter(l.toks, x -> x = 'the')) AS k,
          len(list_filter(l.toks, x -> x = 'customer')) AS cust,
          len(list_filter(l.toks, x -> x = 'scan')) AS scn,
          coalesce(s.nsegs, 0) AS nsegs, coalesce(s.m1, 0) AS m1, coalesce(s.m2, 0) AS m2
        FROM lined l LEFT JOIN segs s ON s.doc_id = l.doc_id AND s.li = l.li),
      cls AS (SELECT *, (k >= 1 AND nsegs = k + 1) AS clean FROM line),
      out AS (
        SELECT 'CUST' AS label, CAST(sum(cust) AS BIGINT) AS n FROM cls
        UNION ALL SELECT 'SCAN', CAST(sum(scn) AS BIGINT) FROM cls
        UNION ALL SELECT 'ROOT', CAST(sum(CASE
          WHEN clean AND (m1 + m2 >= 2 OR m2 >= 1) THEN 1
          WHEN NOT clean AND cust + scn >= 2 THEN 1 ELSE 0 END) AS BIGINT) FROM cls
        UNION ALL SELECT 'UNDEF', CAST(sum(CASE
          WHEN clean AND m1 + m2 >= 2 THEN m2 ELSE 0 END) AS BIGINT) FROM cls)
      SELECT label, n FROM out WHERE n > 0""").fetchall())
    got = dict(facts["nlp_labels"])
    c.add("nlp_label_counts", got == want, f"program {got} closed form {want}")
