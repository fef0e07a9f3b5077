"""Tests of the seeded log generator.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import hashlib
import math
import os
import re
import statistics
import tempfile
import unittest

import gen

# the `%t:%r:%u@%d:[%p]:` prefix, as the report's parser matches it
PREFIX_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2} \d{2}):\d{2}:\d{2} UTC:[^:]*:[^@:]*@[^:]*:"
    r"\[(\d+)\]:([A-Z]+):  (.*)$", re.S)


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def normalize(q):
    """The report's query normalizer, written from its definition."""
    q = re.sub(r"'[^']*'", "?", q)
    q = re.sub(r"\b\d+\b", "?", q)
    return re.sub(r"\s+", " ", q).strip().lower()


def records(path):
    """Stitched records of one file: a record starts at a prefixed line;
    any other non-empty line continues the record before it."""
    with open(path, "rb") as f:
        text = f.read().decode()
    out = []
    for raw in text.split("\n"):
        raw = raw[:-1] if raw.endswith("\r") else raw
        if PREFIX_RE.match(raw):
            out.append(raw)
        elif raw and out:
            out[-1] += "\n" + raw
    return out


def count(path):
    """Truth of one file, counted from its text alone."""
    levels, pids, queries, total = {}, set(), {}, 0
    for rec in records(path):
        _, pid, level, msg = PREFIX_RE.match(rec).groups()
        levels[level] = levels.get(level, 0) + 1
        pids.add(int(pid))
        m = re.match(r"duration: (\d+)\.(\d\d) ms  statement: (.*)$", msg, re.S)
        if m:
            cents = int(m.group(1)) * 100 + int(m.group(2))
            total += cents
            q = queries.setdefault(normalize(m.group(3)), [0, cents, cents, 0])
            q[0] += 1
            q[1] = min(q[1], cents)
            q[2] = max(q[2], cents)
            q[3] += cents
    return {"records": sum(levels.values()), "levels": levels,
            "n_users": len(pids), "sum_cents": total, "queries": queries}


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for key, seed, shapes in [("a", 11, "clean"), ("b", 11, "clean"),
                                  ("c", 12, "clean"), ("m", 11, "multiline")]:
            d = os.path.join(cls.tmp.name, key)
            cls.dirs[key] = (d, gen.generate(d, seed, 8, 400, shapes))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def logs(self, key):
        return os.path.join(self.dirs[key][0], "logs")

    def test_same_seed_same_bytes(self):
        self.assertEqual(digest(self.logs("a")), digest(self.logs("b")))
        self.assertNotEqual(digest(self.logs("a")), digest(self.logs("c")))

    def test_truth_equals_independent_count(self):
        for key in ("a", "m"):
            truth = self.dirs[key][1]
            for name in sorted(os.listdir(self.logs(key))):
                with self.subTest(key=key, file=name):
                    got = count(os.path.join(self.logs(key), name))
                    want = dict(truth[name])
                    want["queries"] = {q: list(v) for q, v in
                                       want["queries"].items()}
                    self.assertEqual(got, want)

    def test_hourly_files_hold_their_hour(self):
        for name in os.listdir(self.logs("a")):
            for rec in records(os.path.join(self.logs("a"), name)):
                hour = PREFIX_RE.match(rec).group(1).replace(" ", "-")
                self.assertEqual(name, gen.PREFIX + hour)

    def test_multiline_shapes_planted(self):
        d = self.logs("m")
        raw = {n: open(os.path.join(d, n), "rb").read() for n in os.listdir(d)}
        self.assertEqual(sum(b"\r\n" in b for b in raw.values()), 1)
        self.assertEqual(sum(len(b) == 0 for b in raw.values()), 1)
        spans, levels = [], set()
        for name, b in raw.items():
            if not b:
                continue
            lines = b.decode().replace("\r\n", "\n").split("\n")[:-1]
            self.assertEqual(lines.count(""), 1, name)
            junk = [l for l in lines
                    if l and not PREFIX_RE.match(l) and not l.startswith("\t")]
            self.assertEqual(junk, [gen.JUNK], name)
            for rec in records(os.path.join(d, name)):
                levels.add(PREFIX_RE.match(rec).group(3))
                if "statement: " in rec:
                    spans.append(rec.count("\n\t") + 1)
        self.assertTrue({"DETAIL", "CONTEXT"} <= levels)
        wrapped = [s for s in spans if s > 1]
        self.assertTrue(wrapped)
        self.assertTrue(all(3 <= s <= 6 for s in wrapped))
        self.assertTrue(0.05 < len(wrapped) / len(spans) < 0.15)

    def test_clean_has_one_line_per_record(self):
        d = self.logs("a")
        for name in os.listdir(d):
            with open(os.path.join(d, name)) as f:
                for line in f:
                    self.assertRegex(line, PREFIX_RE)

    def test_templates_bounded_and_skewed(self):
        calls = {}
        for name in os.listdir(self.logs("a")):
            for q, v in count(os.path.join(self.logs("a"), name))["queries"].items():
                calls[q] = calls.get(q, 0) + v[0]
        self.assertLessEqual(len(calls), len(gen.TEMPLATES))
        self.assertEqual(set(calls) - set(gen.CLASSES), set())
        top = max(calls.values()) / sum(calls.values())
        self.assertGreater(top, 3.0 / len(gen.TEMPLATES))

    def test_durations_log_normal(self):
        lines, _ = gen.gen_hour(5, 0, 20000, False)
        head = gen.TEMPLATES[0].split("{")[0]
        logs = [math.log(float(m.group(1))) for l in lines
                for m in [re.search(r"duration: (\d+\.\d\d) ms  statement: "
                                    + re.escape(head), l)] if m]
        # template 0 has median 0.1 ms and sigma 1; durations are floored
        # at 0.01 ms, so the spread is tested on the upper half only
        upper = [x for x in logs if x >= math.log(0.1)]
        self.assertAlmostEqual(statistics.median(logs), math.log(0.1), delta=0.1)
        self.assertAlmostEqual(statistics.mean(upper) - math.log(0.1),
                               math.sqrt(2 / math.pi), delta=0.08)


if __name__ == "__main__":
    unittest.main()
