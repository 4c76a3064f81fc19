"""Tests of the benchmark's own code: generator and checkers.

    python3 -m unittest discover -s graftbench -p 'test_*.py'

They need numpy and pyarrow, not Spark; the stopword test reads Spark's
english list from $SPARK_HOME/jars when it is there.
"""

import contextlib
import glob
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = {
    "topic_model": dict(gen.SIZES["topic_model"], docs=300),
    "near_dup": dict(gen.SIZES["near_dup"], docs=600, clusters=60),
    "text_curate": dict(gen.SIZES["text_curate"], docs=1500),
}


def read(path):
    with open(path, "rb") as f:
        return f.read()


@contextlib.contextmanager
def small_sizes():
    saved = dict(gen.SIZES)
    gen.SIZES.update(SMALL)
    try:
        yield
    finally:
        gen.SIZES.update(saved)


def clean_text(text):
    """The engine's cleaning chain (Cleaning.cleanText), as regexes."""
    emoji = re.compile("[\U0001F300-\U0001FAFF☀-➿\U0001F000-\U0001F02F"
                       "\U0001F0A0-\U0001F0FF\U0001F100-\U0001F1FF\U0001F200-\U0001F2FF"
                       "←-⇿⬀-⯿︀-️‍]")
    t = " ".join(tok for tok in re.split(r"\s+", text) if not emoji.search(tok))
    t = re.sub(r"http\S+", "", t)
    t = re.sub(r"@\w+", "", t, flags=re.ASCII)
    t = re.sub(r"(?i)\b(?:covid-19|covid19|covid_19|covid)\b", "", t, flags=re.ASCII)
    t = re.sub(r"[^A-Za-z ]+", "", t)
    return re.sub(r"\s+", " ", t).strip().lower()


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_files(self):
        with small_sizes(), tempfile.TemporaryDirectory() as tmp:
            for w in run.WORKLOADS:
                blobs = []
                for k in range(2):
                    rows, truth = gen.generate(w, 5)
                    out = os.path.join(tmp, "%s-%d" % (w, k))
                    gen.write(rows, w, out, 3)
                    files = sorted(glob.glob(os.path.join(out, "documents.parquet", "*"))) or \
                        [os.path.join(out, "documents.parquet")]
                    blobs.append(([read(f) for f in files], json.dumps(truth)))
                self.assertEqual(blobs[0], blobs[1], w)
                other, _ = gen.generate(w, 6)
                self.assertNotEqual(other, gen.generate(w, 5)[0], w)

    def test_clean_truth_is_what_the_cleaning_chain_leaves(self):
        with small_sizes():
            for w in run.WORKLOADS:
                rows, truth = gen.generate(w, 9)
                for r, kept in zip(rows, truth["clean"]):
                    self.assertEqual(clean_text(r["text"]), " ".join(kept), r["text"])

    def test_text_has_every_kind_of_noise(self):
        with small_sizes():
            rows, _ = gen.generate("text_curate", 1)
        text = " ".join(r["text"] for r in rows)
        for needle in ("https://t.co/", "@", "\U0001F680", "COVID-19", "#", "!"):
            self.assertIn(needle, text)
        self.assertRegex(text, r"\b\d+\b")
        self.assertRegex(text, r"\b[A-Z][a-z]{4,}\b")

    def test_vocabulary_avoids_every_stopword_list(self):
        vocab = gen.vocabulary(__import__("numpy").random.default_rng(0), 5000)
        stop = set(gen.STOPWORDS) | {"amp", "rt", "via", "new", "like", "just", "people",
                                     "know", "need", "today", "im"}
        jars = glob.glob(os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"),
                                      "jars", "spark-mllib_*.jar"))
        if jars:
            with zipfile.ZipFile(jars[0]) as z:
                stop |= set(z.read("org/apache/spark/ml/feature/stopwords/english.txt")
                            .decode().split())
        self.assertFalse(stop & set(vocab))
        self.assertTrue(all(len(w) >= 5 and w.isalpha() and "covid" not in w for w in vocab))

    def test_text_curate_is_split_into_row_groups(self):
        with small_sizes(), tempfile.TemporaryDirectory() as tmp:
            rows, truth = gen.generate("text_curate", 2)
            self.assertEqual(gen.write(rows, "text_curate", tmp, 4), 4)
            self.assertEqual(len(glob.glob(os.path.join(tmp, "documents.parquet", "*"))), 4)
            self.assertEqual(gen.sizes(rows, truth, 4)["docs"], len(rows))

    def test_planted_pairs_are_in_the_same_block(self):
        with small_sizes():
            _, truth = gen.generate("near_dup", 3)
        self.assertEqual(len(truth["planted"]), SMALL["near_dup"]["clusters"])
        for a, b, kind in truth["planted"]:
            self.assertLess(a, b)
            self.assertEqual(truth["source"][a], truth["source"][b])
            self.assertIn(kind, ("exact", "reorder", "edit"))


def result(rows=None, digest=None, kept=()):
    kept = list(kept)
    return {"rows": len(kept) if rows is None else rows, "digest": digest,
            "kept": kept, "error": None}


def pair_lines(pairs):
    return [check.encode((a, b, j)) for (a, b), j in sorted(pairs.items())]


class CheckerTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with small_sizes():
            cls.text = gen.generate("text_curate", 4)[1]
            cls.dup = gen.generate("near_dup", 4)[1]
            cls.topic = gen.generate("topic_model", 4)[1]

    def test_text_checks_accept_truth_and_reject_a_wrong_word_count(self):
        want = check.expected("text_curate", self.text)
        for q, (rows, dig) in want.items():
            self.assertIsNone(check.check_query("text_curate", q, result(rows, dig), want))
        counts = {}
        for ws in self.text["clean"]:
            for w in ws:
                if w not in gen.STOPWORDS:
                    counts[w] = counts.get(w, 0) + 1
        bad = sorted(counts.items())
        bad[0] = (bad[0][0], bad[0][1] + 1)
        rows, dig = check.digest(bad)
        self.assertIsNotNone(check.check_query("text_curate", "text_wordcount",
                                               result(rows, dig), want))
        self.assertEqual(check.digest(sorted(counts.items())), want["text_wordcount"])

    def test_near_dup_checks_reject_a_dropped_planted_pair(self):
        want = check.expected("near_dup", self.dup)
        for q in ("dedup_jaccard_pairs", "dedup_shingle_jaccard"):
            good = pair_lines(want[q])
            self.assertIsNone(check.check_query("near_dup", q, result(kept=good), want))
            exact = [(a, b) for a, b, kind in self.dup["planted"] if kind == "exact"]
            self.assertTrue(set(exact) <= set(want[q]), q)
            dropped = [l for l in good if l != check.encode(exact[0] + (want[q][exact[0]],))]
            self.assertEqual(len(dropped), len(good) - 1)
            self.assertIsNotNone(check.check_query("near_dup", q, result(kept=dropped), want))

    def test_minhash_must_be_a_subset_of_shingle_pairs(self):
        want = check.expected("near_dup", self.dup)
        shingle = pair_lines(want["dedup_shingle_jaccard"])
        self.assertIsNone(check.check_query("near_dup", "dedup_minhash_lsh",
                                            result(kept=shingle[:5]), want, shingle))
        extra = shingle[:5] + [check.encode((0, 1, 2500))]
        self.assertIsNotNone(check.check_query("near_dup", "dedup_minhash_lsh",
                                               result(kept=extra), want, shingle))

    def topic_rows(self, integer):
        words = self.topic["topics"]
        return [check.encode((t, " ".join(words[t][:20]),
                              " ".join(str(20 - i if integer else 0.5 / (i + 1))
                                       for i in range(20))))
                for t in range(check.NUM_TOPICS)]

    def test_topic_checks_reject_a_duplicated_term(self):
        want = check.expected("topic_model", self.topic)
        for q, integer in (("lda_topics", False), ("gibbs_topics", True)):
            good = self.topic_rows(integer)
            self.assertIsNone(check.check_query("topic_model", q, result(kept=good), want))
            t, terms, weights = good[2].split(check.SEP)
            ts = terms.split(" ")
            ts[5] = ts[4]
            bad = good[:2] + [check.encode((t, " ".join(ts), weights))] + good[3:]
            self.assertIsNotNone(check.check_query("topic_model", q, result(kept=bad), want))
            first = good[1].split(check.SEP)[1].split(" ")[0]
            foreign = good[:1] + [good[1].replace(first, "zzzzz", 1)] + good[2:]
            self.assertIsNotNone(check.check_query("topic_model", q, result(kept=foreign), want))

    def test_topic_digests_must_agree_across_passes(self):
        rows = self.topic_rows(False)
        n = check.topic_docs(self.topic)

        def one_pass(p, doc_digest):
            return {"pass": p, "queries": [
                dict(result(kept=rows, digest="7"), name="lda_topics"),
                dict(result(rows=n, digest=doc_digest), name="lda_doc_topics")]}
        passes = [one_pass(1, "1"), one_pass(2, "1"), one_pass(3, "2")]
        out = check.check_runs("topic_model", self.topic, passes)
        self.assertEqual([(p, q) for p, q, m in out if m], [(3, "lda_doc_topics")])

    def test_a_run_that_raised_fails_with_its_message(self):
        passes = [{"pass": 1, "queries": [
            {"name": "text_clean", "rows": None, "digest": None, "kept": [],
             "error": "java.lang.RuntimeException: boom"}]}]
        out = check.check_runs("text_curate", self.text, passes)
        self.assertIn("boom", out[0][2])


class ContractTest(unittest.TestCase):

    def test_benchmark_json_lists_the_runner_metrics(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         [(n, u) for n, u, _ in run.PER_LAYER])

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as tmp:
            bench = os.path.join(tmp, "graftbench")
            os.makedirs(bench)
            for f in ("run.py", "gen.py", "check.py"):
                with open(os.path.join(HERE, f)) as src, open(os.path.join(bench, f), "w") as dst:
                    dst.write(src.read())
            p = subprocess.run([sys.executable, "graftbench/run.py", "--workload", "near_dup",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
