"""Tests of the benchmark harness itself (no Spark needed).

  python3 -m unittest discover -s enginebench -p 'test_*.py'
"""
import filecmp
import json
import os
import re
import tempfile
import unittest

import gen
import metrics
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileRule(unittest.TestCase):
    def test_p80_missing_below_50_samples(self):
        for n in (0, 1, 10, 49):
            self.assertIsNone(metrics.tail_percentile(list(range(n)), 0.8), n)

    def test_p80_at_and_above_50_samples(self):
        vals = list(range(1, 51))  # 1..50: ten samples (41..50) lie beyond the 40th
        self.assertEqual(metrics.tail_percentile(vals, 0.8), 40)
        self.assertEqual(metrics.tail_percentile(list(reversed(range(1, 101))), 0.8), 80)

    def test_p50_needs_20_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.tail_percentile(list(range(1, 21)), 0.5), 10)


def frames(*lines):
    return "\n".join(["org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)", *lines])


BENCH_FRAMES = ("graft.enginebench.Recorder.span(Recorder.scala:41)",
                "graft.enginebench.EngineBench.run(EngineBench.scala:233)")


class Attribution(unittest.TestCase):
    def test_batch_job_steps_by_call_site(self):
        job = ("graft.pipeline.ExtractJob$.runLocked(ExtractJob.scala:143)",
               "graft.pipeline.ExtractJob$.run(ExtractJob.scala:121)") + BENCH_FRAMES
        self.assertEqual(metrics.attribute(frames(*job)), ("pipeline", "write"))
        agg = ("graft.pipeline.ExtractJob$.lineageAgg(ExtractJob.scala:105)",) + job
        self.assertEqual(metrics.attribute(frames(*agg)), ("pipeline", "lineage_agg"))
        listing = ("graft.pipeline.ExtractJob$.docs(ExtractJob.scala:55)",) + job
        self.assertEqual(metrics.attribute(frames(*listing)), ("pipeline", "lineage_agg"))
        commit = ("graft.pipeline.Lineage$.commitInternal(Lineage.scala:213)",
                  "graft.pipeline.Lineage$.commit(Lineage.scala:167)") + job
        self.assertEqual(metrics.attribute(frames(*commit)), ("pipeline", "commit"))

    def test_micro_batch_steps_by_plan(self):
        start = frames("graft.pipeline.StreamingLineage$.run(StreamingLineage.scala:73)", *BENCH_FRAMES)
        write = "Execute InsertIntoHadoopFsRelationCommand file:/x/out/docs, false, [epoch, pid]"
        lineage = "Execute InsertIntoHadoopFsRelationCommand file:/x/out/_lineage/data/offset=3"
        agg = "HashAggregate(keys=[pid], functions=[sum(pmod(conv(substring(md5(...)))))])"
        self.assertEqual(metrics.attribute(start, write), ("pipeline", "write"))
        self.assertEqual(metrics.attribute(start, lineage), ("pipeline", "commit"))
        self.assertEqual(metrics.attribute(start, agg), ("pipeline", "lineage_agg"))
        self.assertEqual(metrics.attribute(start, "Scan warc-stream"), ("pipeline", "stream"))

    def test_other_layers_and_pool_threads(self):
        dedup = frames("graft.queries.Dedup$.$anonfun$defs$17(Dedup.scala:572)", *BENCH_FRAMES)
        self.assertEqual(metrics.attribute(dedup, "md5("), ("queries", "Dedup"))
        warc = frames("graft.sources.Warc$.write(Warc.scala:161)", *BENCH_FRAMES)
        self.assertEqual(metrics.attribute(warc), ("sources", "Warc"))
        pool = ("org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2"
                "(SQLExecution.scala:329)\njava.base/java.lang.Thread.run(Thread.java:840)")
        self.assertEqual(metrics.attribute(pool), ("bench", "other"))
        self.assertEqual(metrics.attribute(frames(*BENCH_FRAMES)), ("bench", "other"))

    def test_pool_thread_job_takes_its_execution_call_site(self):
        job_cs = frames(*BENCH_FRAMES).replace("graft.", "x.")
        ex_cs = frames("graft.pipeline.ExtractJob$.runLocked(ExtractJob.scala:143)", *BENCH_FRAMES)
        tr = metrics.Trace({
            "jobs": [{"job": 1, "start": 10.0, "stages": [1], "call_site": job_cs, "execution": 7}],
            "job_ends": [{"job": 1, "end": 20.0}],
            "executions": [{"execution": 7, "start": 9.0, "call_site": ex_cs, "plan": ""},
                           {"execution": 7, "end": 21.0}],
            "stages": [], "tasks": [],
        })
        self.assertEqual((tr.jobs[0]["layer"], tr.jobs[0]["role"]), ("pipeline", "write"))

    def test_union_of_job_intervals(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.union_ms([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(metrics.union_ms([], 0, 100), 0)


class Generator(unittest.TestCase):
    def test_equal_seeds_give_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            for w in gen.WORKLOADS:
                a, b, c = (os.path.join(d, f"{w}-{k}") for k in "abc")
                gen.write(w, 7, a)
                gen.write(w, 7, b)
                gen.write(w, 8, c)
                for f in ("docs.jsonl", "plan.json"):
                    self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), w)
                self.assertFalse(filecmp.cmp(os.path.join(a, "docs.jsonl"),
                                             os.path.join(c, "docs.jsonl"), shallow=False), w)

    def test_planted_shapes(self):
        docs, plan = gen.generate("dedup_hot", 3)
        n, p = len(docs), gen.WORKLOADS["dedup_hot"]
        self.assertEqual(plan["routes"]["validation"] + plan["routes"]["payload"]
                         + plan["routes"]["unexpected"], round(0.15 * n))
        self.assertEqual(len(plan["near_dup_pairs"]), round(p["near_dup_share"] * n))
        hot = max(plan["clusters"], key=len)
        self.assertEqual(len(hot), round(p["hot_share"] * n))
        self.assertGreater(len(hot), 10)
        text = {d["doc_id"]: d["text"].split(" ") for d in docs}
        for a, b in plan["near_dup_pairs"]:
            self.assertEqual(len(text[a]), len(text[b]))
            self.assertEqual(sum(x != y for x, y in zip(text[a], text[b])), 1)
        for d in docs:  # single-space separated, as fixtures.PageHtml needs
            self.assertNotIn("  ", d["text"])
            self.assertEqual(d["text"], d["text"].strip())

    def test_size_mix_and_error_share_knobs(self):
        docs, _ = gen.generate("extract_batch", 1)
        words = sorted(len(d["text"].split(" ")) for d in docs)
        self.assertLess(words[len(words) // 2], 120)
        self.assertGreaterEqual(words[-1], gen.WORKLOADS["extract_batch"]["tail_words"])
        saved = dict(gen.WORKLOADS["crawl_stream"])
        try:
            gen.WORKLOADS["crawl_stream"]["error_share"] = 0.0
            docs, plan = gen.generate("crawl_stream", 1)
            self.assertEqual(set(plan["routes"]), {"plain", "garbage"})
        finally:
            gen.WORKLOADS["crawl_stream"].clear()
            gen.WORKLOADS["crawl_stream"].update(saved)


class BenchmarkFile(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_metric_tables_match_the_harness(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.b["per_layer"]}, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in self.b["workloads"]}, set(run.JVM_ARGS))
        self.assertEqual(set(run.JVM_ARGS), set(gen.WORKLOADS))

    def test_limits(self):
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in self.b[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, name)
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in self.b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        for w in self.b["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)
        setup = [m for m in self.b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
