"""Output checks for the engine benchmark, run outside the engine.

Every op's written output is checked against the generator's planted
truth (`plan.json`) with DuckDB, so the engine is never used to check
itself. Each check returns a list of failure strings; an empty list means
the op's output is correct.
"""
import json
import os

import duckdb

# per-pid digest, the engine-free recipe of ExtractJob.digestRecord +
# lineageAgg: md5-60bit of the length-prefixed (url, text, error) record
DIGEST_SQL = """
SELECT pid, count(*) AS rows_,
  CAST(sum(CAST(('0x' || substr(md5(
    CASE WHEN url IS NULL THEN 'n' ELSE 'v' || length(url) || ':' || url END ||
    CASE WHEN extracted_text IS NULL THEN 'n'
         ELSE 'v' || length(extracted_text) || ':' || extracted_text END ||
    CASE WHEN error IS NULL THEN 'n' ELSE 'v' || length(error) || ':' || error END
  ), 1, 15)) AS BIGINT) % 1000000007) AS VARCHAR) AS dig
FROM read_parquet('{docs}/*/*.parquet', hive_partitioning = 1) GROUP BY pid
"""


class Checker:
    def __init__(self, input_dir, plan):
        self.plan = plan
        self.db = duckdb.connect()
        self.db.execute(
            "CREATE TABLE src AS SELECT doc_id, text FROM read_json("
            f"'{input_dir}/docs.jsonl', columns = {{doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR'}})")

    def q(self, sql):
        return self.db.execute(sql).fetchall()

    def extract_op(self, op):
        """ExtractJob output: planted error routing exactly, ok plain pages
        round-trip their source text, lineage digests match the data."""
        bad, routes, out = [], self.plan["routes"], op["dir"]
        docs = f"{out}/docs"
        expect = {"validation": routes.get("validation", 0), "payload": routes.get("payload", 0),
                  "unexpected": routes.get("unexpected", 0)}
        for k, v in expect.items():
            if op.get(k) != v:
                bad.append(f"report {k}={op.get(k)} planted {v}")
        got = dict(self.q(f"SELECT coalesce(error, 'ok'), count(*) FROM read_parquet("
                          f"'{docs}/*/*.parquet', hive_partitioning = 1) GROUP BY 1"))
        for k, v in expect.items():
            if got.get(k, 0) != v:
                bad.append(f"written {k} rows={got.get(k, 0)} planted {v}")
        want_ok = routes.get("plain", 0) + routes.get("garbage", 0)
        if got.get("ok", 0) != want_ok:
            bad.append(f"written ok rows={got.get('ok', 0)} planted {want_ok}")
        (n_plain, n_match), = self.q(f"""
            SELECT count(*), count(*) FILTER (WHERE d.error IS NULL AND d.extracted_text = s.text)
            FROM read_parquet('{docs}/*/*.parquet', hive_partitioning = 1) d
            JOIN src s ON CAST(split_part(d.url, '/', -1) AS BIGINT) = s.doc_id
            WHERE s.doc_id % 20 NOT IN (3, 7, 13, 19)""")
        if n_plain != routes.get("plain", 0) or n_match != n_plain:
            bad.append(f"plain pages {n_plain}, text round-trips {n_match}, planted {routes.get('plain', 0)}")
        bad += self._digests(docs, os.path.join(out, "lineage_table.tsv"))
        return bad

    def _digests(self, docs, table_tsv):
        recomputed = {int(p): (int(r), d) for p, r, d in self.q(DIGEST_SQL.format(docs=docs))}
        committed = {}
        with open(table_tsv) as f:
            for line in f:
                if line.strip():
                    p, r, d = line.split("\t")
                    committed[int(p)] = (int(r), d.strip())
        bad = []
        for p, (r, d) in committed.items():
            if recomputed.get(p, (0, "0")) != (r, d):
                bad.append(f"pid {p}: Lineage.table {(r, d)} != parquet {recomputed.get(p)}")
        missing = set(recomputed) - set(committed)
        if missing:
            bad.append(f"pids written but not in Lineage.table: {sorted(missing)[:5]}")
        return bad

    def drain(self, drain, chunks):
        """StreamingLineage output: one manifest epoch per chunk, one docs
        row per WARC record, no url twice."""
        bad, out = [], drain["dir"]
        with open(os.path.join(out, "_lineage", "manifest.json")) as f:
            epochs = json.load(f).get("epochs", [])
        if len(epochs) != chunks or drain.get("epochs") != chunks:
            bad.append(f"manifest epochs {len(epochs)}, callbacks {drain.get('epochs')}, chunks {chunks}")
        (rows, urls), = self.q(f"SELECT count(*), count(DISTINCT url) FROM read_parquet("
                               f"'{out}/docs/*/*/*.parquet', hive_partitioning = 1)")
        if rows != self.plan["warc_records"]:
            bad.append(f"docs rows {rows} != WARC records {self.plan['warc_records']}")
        if urls != rows:
            bad.append(f"{rows - urls} duplicate urls")
        return bad

    def epoch_docs(self, drain):
        """{epoch: docs rows} of one drain's committed output"""
        return dict(self.q(f"SELECT epoch, count(*) FROM read_parquet("
                           f"'{drain['dir']}/docs/*/*/*.parquet', hive_partitioning = 1) GROUP BY 1"))

    def dedup_op(self, op):
        """d_minhash_lsh finds every planted near-dup pair; d_components
        puts each planted cluster in one component."""
        bad = []
        pairs = set()
        with open(os.path.join(op["dir"], "pairs.tsv")) as f:
            for line in f:
                a, b = line.split("\t")
                pairs.add((int(a), int(b)))
        missing = [p for p in self.plan["near_dup_pairs"] if tuple(p) not in pairs]
        if missing:
            bad.append(f"{len(missing)} planted near-dup pairs missing, e.g. {missing[:3]}")
        comp = {}
        with open(os.path.join(op["dir"], "components.tsv")) as f:
            for line in f:
                d, c = line.split("\t")
                comp[int(d)] = int(c)
        if len(comp) != self.plan["docs"]:
            bad.append(f"components cover {len(comp)} docs of {self.plan['docs']}")
        split = [c for c in self.plan["clusters"] if len({comp.get(d) for d in c}) != 1]
        if split:
            bad.append(f"{len(split)} planted clusters split across components, e.g. {split[0][:5]}")
        return bad
