"""Unit tests for jfr_hot.py on a small hand-built recording.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import jfr_hot  # noqa: E402


def frame(cls, method):
    return {"method": {"type": {"name": cls}, "name": method}, "lineNumber": 1}


def sample(thread, *frames):
    """An ExecutionSample as `jfr print --json` writes it, frames leaf first."""
    return {"type": "jdk.ExecutionSample",
            "values": {"sampledThread": {"javaName": thread},
                       "stackTrace": {"truncated": False,
                                      "frames": [frame(c, m) for c, m in frames]}}}


EXEC = "Executor task launch worker for task 0.0 in stage 3.0 (TID 7)"
SIZE = ("org/apache/spark/util/SizeEstimator$", "visitSingleObject")
UDF = ("org/apache/spark/sql/catalyst/expressions/ScalaUDF", "eval")
HOF = ("org/apache/spark/sql/catalyst/expressions/SimpleHigherOrderFunction", "eval")
STATIC = "org/apache/spark/sql/catalyst/expressions/objects/StaticInvoke"
CLEANER = ("org/apache/spark/util/SparkClosureCleaner$", "clean")
OOS = ("java/io/ObjectOutputStream", "writeObject0")

EVENTS = [
    # main: a closure check under a class-file read
    sample("main", ("java/io/FileInputStream", "readBytes"), CLEANER,
           ("org/apache/spark/SparkContext", "runJob")),
    sample("main", ("graft/lda/GibbsLda$", "countPhi"), ("graft/Run$", "each")),
    # executors: the marker nearest the leaf wins
    sample(EXEC, ("java/util/IdentityHashMap", "put"), SIZE, UDF),
    sample(EXEC, UDF, ("graft/lda/LdaPipeline$", "preprocess")),
    sample(EXEC, ("java/lang/reflect/Method", "invoke"), (STATIC, "eval"), HOF,
           ("graft/functions/TokenOps$", "words")),
    sample(EXEC, ("graft/functions/TokenOps$", "words"), (STATIC, "doGenCode")),
    sample(EXEC, OOS, ("graft/functions/AlphaOps$", "fold")),
    sample(EXEC, ("java/lang/String", "hashCode")),
    # other threads are counted apart
    sample("dispatcher-event-loop-1", SIZE),
    {"type": "jdk.GCPhasePause", "values": {}},
]


class JfrHotTest(unittest.TestCase):
    def test_summarize(self):
        s, other = jfr_hot.summarize(EVENTS)
        self.assertEqual(other, 1)
        self.assertEqual(s["main"]["samples"], 2)
        self.assertEqual(dict(s["main"]["markers"]), {"ClosureCleaner": 1})
        self.assertEqual(dict(s["main"]["graft"]), {"graft.lda.GibbsLda$.countPhi": 1})
        ex = s["executor"]
        self.assertEqual(ex["samples"], 6)
        self.assertEqual(dict(ex["markers"]), {"SizeEstimator": 1, "ScalaUDF": 1,
                                               "StaticInvoke.eval": 1,
                                               "JavaSerialization": 1})
        self.assertEqual(ex["graft"].most_common(1), [("graft.functions.TokenOps$.words", 2)])
        self.assertEqual(ex["graft"]["graft.lda.LdaPipeline$.preprocess"], 1)

    def test_render_and_main(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "rec.json")
            with open(path, "w") as f:
                json.dump({"recording": {"events": EVENTS}}, f)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                jfr_hot.main([path])
        out = buf.getvalue().splitlines()
        self.assertEqual(out[0], "samples: 9 (main 2, executor 6, other threads 1)")
        self.assertIn("executor threads: 6 samples", out)
        self.assertIn("  %-26s %6d  %5.1f%%" % ("SizeEstimator", 1, 100.0 / 6), out)
        self.assertIn("  %-26s %6d  %5.1f%%" % ("ClosureCleaner", 1, 50.0), out)
        self.assertIn("  %6d  %5.1f%%  %s" % (2, 200.0 / 6, "graft.functions.TokenOps$.words"),
                      out)
        self.assertIn("  %6d  %5.1f%%  %s" % (1, 100.0 / 6, "graft.lda.LdaPipeline$.preprocess"),
                      out)

    def test_size_causes(self):
        # a SizeEstimator sample is filed under the collection that sized
        # itself, found on the root side of the marker
        coll = "org/apache/spark/util/collection/"
        tracker = (coll + "SizeTracker", "takeSample")
        events = [
            sample(EXEC, SIZE, tracker, (coll + "SizeTrackingVector", "$plus$eq"),
                   ("org/apache/spark/storage/memory/MemoryStore", "putIterator")),
            sample(EXEC, SIZE, ("org/apache/spark/storage/memory/DeserializedValuesHolder$$anon$2",
                                "<init>")),
            sample(EXEC, SIZE, tracker, (coll + "PartitionedPairBuffer", "insert"),
                   ("org/apache/spark/util/collection/ExternalSorter", "insertAll")),
            sample(EXEC, SIZE, tracker, (coll + "SizeTrackingAppendOnlyMap", "changeValue")),
            sample(EXEC, SIZE, UDF),
            # the collection is on the leaf side of the marker: not its cause
            sample(EXEC, (coll + "PartitionedPairBuffer", "insert"), SIZE),
            # the nearest marker is not SizeEstimator: no cause is counted
            sample(EXEC, OOS, SIZE, (coll + "SizeTrackingVector", "$plus$eq")),
        ]
        s, _ = jfr_hot.summarize(events)
        ex = s["executor"]
        self.assertEqual(ex["markers"]["SizeEstimator"], 6)
        self.assertEqual(dict(ex["size"]), {"cache unroll": 2, "shuffle sort/combine": 2,
                                            "other": 2})
        out = jfr_hot.render(s, 0).splitlines()
        at = out.index("  %-26s %6d  %5.1f%%" % ("SizeEstimator", 6, 600.0 / 7))
        self.assertEqual(out[at + 1:at + 4], [
            "    %-24s %6d  %5.1f%%" % ("cache unroll", 2, 200.0 / 7),
            "    %-24s %6d  %5.1f%%" % ("shuffle sort/combine", 2, 200.0 / 7),
            "    %-24s %6d  %5.1f%%" % ("other", 2, 200.0 / 7)])

    def test_top_cutoff(self):
        # TOP + 1 distinct graft frames, frame i sampled i + 1 times:
        # only the TOP most frequent are printed, the once-sampled f0 is cut
        events = [sample(EXEC, ("graft/Hot", "f%d" % i))
                  for i in range(jfr_hot.TOP + 1) for _ in range(i + 1)]
        out = jfr_hot.render(*jfr_hot.summarize(events))
        printed = [l for l in out.splitlines() if "graft.Hot." in l]
        self.assertEqual(len(printed), jfr_hot.TOP)
        self.assertNotIn("graft.Hot.f0\n", out + "\n")
        self.assertIn("graft.Hot.f1", out)


if __name__ == "__main__":
    unittest.main()
