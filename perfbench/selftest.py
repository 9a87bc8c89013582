#!/usr/bin/env python3
"""Self-test of the benchmark harness's Python side (no Spark needed).

    python3 perfbench/selftest.py

Covers the tail rule, result digests, the call-site -> layer mapping, span
attribution of jobs, and the mailbox generator's ground truth, which is
re-derived here by an independent reading of the reference's TSV rules.
"""
import datetime
import decimal
import json
import os
import re
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import mailbox  # noqa: E402
import metrics  # noqa: E402

TINY = [
    [("data", 40, "bom,crlf"), ("zero_byte", 0, ""), ("other", 2, "")],
    [("data", 30, "permuted"), ("header_only", 0, ""), ("unknown_header", 5, "")],
    [("all_bad", 6, "")],
]


class Tail(unittest.TestCase):
    def test_rank_leaves_ten_beyond(self):
        xs = list(range(1, 32))  # 31 samples
        v, label = metrics.tail(xs)
        self.assertEqual(v, 21)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertTrue(label.startswith("p67.7"))

    def test_small_sample_falls_back_to_max(self):
        self.assertEqual(metrics.tail([3, 1, 2])[0], 3)
        self.assertEqual(metrics.tail(list(range(21)))[1], "max of 21")

    def test_large_sample(self):
        v, label = metrics.tail(list(range(1000)))
        self.assertEqual(v, 989)
        self.assertTrue(label.startswith("p99.0"))


class Digest(unittest.TestCase):
    def test_order_insensitive(self):
        a = digest.digest_rows(["b", "a"], [(1, "x"), (2, "y")])
        b = digest.digest_rows(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_meaningless_representation_differences(self):
        ts = datetime.datetime(2025, 1, 2, tzinfo=datetime.timezone.utc)
        a = digest.digest_rows(["d", "n", "t", "f"], [(datetime.date(2025, 1, 2), 3, ts, 0.1 + 0.2)])
        b = digest.digest_rows(["d", "n", "t", "f"], [(datetime.datetime(2025, 1, 2), 3.0,
                                                       datetime.datetime(2025, 1, 2),
                                                       decimal.Decimal("0.3"))])
        self.assertEqual(a, b)

    def test_value_and_multiplicity_matter(self):
        base = digest.digest_rows(["a"], [(1,), (2,)])
        self.assertNotEqual(base, digest.digest_rows(["a"], [(1,), (3,)]))
        self.assertNotEqual(base, digest.digest_rows(["a"], [(1,), (2,), (2,)]))
        self.assertNotEqual(base, digest.digest_rows(["b"], [(1,), (2,)]))
        self.assertNotEqual(digest.cell(None), digest.cell("NULL"))


class Layers(unittest.TestCase):
    def test_call_sites(self):
        cases = {
            "parquet at Tables.scala:47": "tables",
            "collect at GraphOps.scala:120": "iterative",
            "count at DedupClusters.scala:9": "iterative",
            "collect at MinHashIncremental.scala:30": "iterative",
            "collect at StreamIngest.scala:122": "stream",
            "collect at CtbIngest.scala:320": "ingest",
            "count at Sink.scala:183": "sink",
            "save at Harness.scala:200": "other",
            "": "other",
        }
        for site, layer in cases.items():
            self.assertEqual(metrics.layer_of_call_site(site), layer, site)

    def traced(self):
        spans = [
            {"id": 1, "name": "build", "parent": 0, "op": 0, "start_ms": 100, "end_ms": 150, "s": 0.05},
            {"id": 2, "name": "exec", "parent": 0, "op": 0, "start_ms": 150, "end_ms": 300, "s": 0.15},
            {"id": 0, "name": "op", "parent": -1, "op": 0, "start_ms": 100, "end_ms": 300, "s": 0.2},
        ]
        jobs = [
            {"id": 0, "call_site": "parquet at Tables.scala:47", "start_ms": 110, "end_ms": 120, "stages": [0]},
            {"id": 1, "call_site": "save at Harness.scala:9", "start_ms": 160, "end_ms": 290, "stages": [1, 2]},
            {"id": 2, "call_site": "save at Harness.scala:9", "start_ms": 400, "end_ms": 410, "stages": [3]},
        ]
        stage = {"tasks": 4, "duration_ms": 500, "run_ms": 400, "cpu_ns": 3e8, "disk_spill": 0,
                 "shuffle_bytes": 10, "shuffle_records": 2, "peak_exec": 7}
        stages = [dict(stage, id=i) for i in range(4)]
        return {"spans": spans, "jobs": jobs, "stages": stages, "gc_s": 0.0,
                "exchanges": 1, "stream": [], "kernels": {"h60": 5.0}}

    def test_innermost_span(self):
        spans = self.traced()["spans"]
        self.assertEqual(metrics.innermost_span(spans, 120)["name"], "build")
        self.assertEqual(metrics.innermost_span(spans, 200)["name"], "exec")
        self.assertIsNone(metrics.innermost_span(spans, 99))

    def test_per_layer_split(self):
        m = metrics.per_layer(self.traced(), cpus=4, wall_s=0.21, untraced_wall_s=0.2)
        self.assertEqual(set(m), set(metrics.UNITS))
        self.assertEqual((m["tables.jobs"], m["build.jobs"], m["exec.jobs"]), (1, 1, 1))
        self.assertEqual((m["exec.stages"], m["exec.tasks"]), (2, 8))
        self.assertAlmostEqual(m["exec.task_wait_s"], 0.2)
        self.assertAlmostEqual(m["exec.slot_busy"], 0.8 / (0.15 * 4))
        self.assertEqual(m["exchange.bytes"], 30)  # the job outside any span is left out
        self.assertEqual(m["trace.spans"], 3)

    def test_benchmark_json_names(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"] for m in b["per_layer"]}, set(metrics.UNITS))
        for m in b["per_layer"]:
            self.assertEqual(m["unit"], metrics.UNITS[m["name"]])


# an independent reading of the reference's row rules (FIXTURES.md section 1)
HEADER_MAP = dict(zip([h.upper().replace(" ", "_") for h in mailbox.RAW_HEADERS], mailbox.CANONICAL))


def reference_ingest(name, body):
    """(clean rows, row errors, failure reason) of one TSV file."""
    text = body.decode("utf-8").replace("﻿", "")
    lines = [ln for ln in re.split(r"\r\n|\n", text)]
    while lines and not lines[-1].strip():
        lines.pop()
    if not lines:
        return [], [], "File is empty"
    cols = [HEADER_MAP.get(h.strip().upper().replace(" ", "_"), h.strip().upper().replace(" ", "_"))
            for h in lines[0].split("\t")]
    unknown = [c for c in cols if c not in mailbox.CANONICAL]
    if unknown:
        return [], [], "Schema mismatch. Unknown columns: " + ", ".join(unknown)
    if len(lines) == 1:
        return [], [], "File contains no data rows"
    clean, errors = [], []
    for n, line in enumerate(lines[1:], start=2):
        f = line.split("\t")
        if len(f) != len(cols):
            errors.append(f"Row {n} has incorrect number of columns. Expected {len(cols)}, "
                          f"got {len(f)}. Row content: {line}")
            continue
        row, ok = {}, True
        for c, v in zip(cols, f):
            v = v.strip() or None
            if v is not None and c in mailbox.INT_COLS:
                if not re.fullmatch(r"-?\d+", v.replace(",", "")):
                    errors.append(f"Row {n}: Could not convert '{v}' to INTEGER for column '{c}'.")
                    ok = False
                    continue
                v = int(v.replace(",", ""))
            elif v is not None and c in mailbox.DATE_COLS:
                try:
                    datetime.datetime.strptime(v, "%Y-%m-%d")
                    assert re.fullmatch(r"\d{4}-\d{2}-\d{2}", v)
                except (ValueError, AssertionError):
                    errors.append(f"Row {n}: Could not parse date '{v}' for column '{c}' "
                                  "(expected yyyy-MM-dd).")
                    ok = False
                    continue
            row[c] = v
        if ok:
            clean.append(tuple(row.get(c) for c in mailbox.CANONICAL))
    if not clean:
        return [], errors, (f"No valid rows from '{name}' could be inserted into the sink."
                            "\nRow-level errors:\n" + "\n".join(sorted(errors)[:20]))
    return clean, errors, None


class Mailbox(unittest.TestCase):
    def test_seeded(self):
        a, ta = mailbox.generate(7, TINY)
        b, tb = mailbox.generate(7, TINY)
        c, tc = mailbox.generate(8, TINY)
        self.assertEqual(a, b)
        self.assertEqual(ta, tb)
        self.assertNotEqual(ta["clean_digest"], tc["clean_digest"])

    def test_truth_matches_reference_rules(self):
        for seed in (1, 2, 3):
            waves, truth = mailbox.generate(seed, TINY)
            clean, errors, failures = [], [], []
            for wave in waves:
                for name, body in wave:
                    if not name.startswith("CTB"):
                        continue
                    rows, errs, reason = reference_ingest(name, body)
                    clean += rows
                    errors += errs
                    if reason:
                        failures.append(f"{name}: {reason}")
            self.assertEqual(len(clean), truth["clean_rows"])
            self.assertEqual(mailbox.clean_digest(clean), truth["clean_digest"])
            self.assertEqual(len(errors), truth["row_errors"])
            self.assertEqual(mailbox.errors_digest(errors + failures), truth["errors_digest"])

    def test_every_fixture_case_occurs(self):
        waves, truth = mailbox.generate(5)
        data = b"".join(body for wave in waves for _, body in wave)
        text = data.decode("utf-8")
        self.assertIn("﻿", text)
        self.assertIn("\r\n", text)
        self.assertRegex(text, r"\t\d{1,2},\d{3}\t")
        self.assertIn("\t\t", text)
        self.assertIn("\t  ", text)
        for needle in ("2025-13-01", "01/02/2025"):
            self.assertIn(needle, text)
        kinds = {f["kind"] for f in truth["files"]}
        self.assertEqual(kinds, {"data", "zero_byte", "header_only", "unknown_header", "all_bad"})
        outcomes = {f["outcome"] for f in truth["files"]}
        self.assertTrue({"partial", "failed"} <= outcomes, outcomes)
        frac = truth["row_errors"] / truth["data_rows"]
        self.assertTrue(0.04 < frac < 0.08, frac)


if __name__ == "__main__":
    unittest.main(verbosity=1)
