#!/usr/bin/env python3
"""Where a JVM's CPU samples go: per-thread-group shares of Spark's
per-object overheads and the hottest graft frames.

    jfr print --json --stack-depth 256 --events jdk.ExecutionSample rec.jfr > rec.json
    python3 tools/jfr_hot.py rec.json

Reads the JSON file that `jfr print --json` writes.
Samples are split into the driver's `main` thread and the executor task
threads ("Executor task launch worker ..."); other threads are counted
only in the header. For each group it prints:

  - the samples under each marker frame, attributed to the marker nearest
    the sampled (leaf) frame, so a sample counts once:
      SizeEstimator      object-graph walks sizing collections, split by the
                         collection that asked (SIZE_CAUSES): a cache or
                         broadcast block being unrolled, a shuffle's sort
                         buffer or combine map, or other
      ClosureCleaner     closure checks, which re-read class files per job
      ScalaUDF           per-row conversions of Scala UDFs (MLlib transformers)
      SimpleHigherOrderFunction  interpreted array lambdas (filter, transform)
      StaticInvoke.eval  reflective calls of native kernels in interpreted code
      JavaSerialization  java.io.ObjectOutputStream / ObjectInputStream
  - the leaf-most `graft` frame of each sample, the TOP most frequent.

A marker low in a stack is seen only if the stack reaches it: record with
-XX:FlightRecorderOptions:stackdepth=256, and print with --stack-depth 256
(`jfr print` keeps 5 frames by default, which hides most ScalaUDF and
ClosureCleaner samples).
"""

import argparse
import collections
import json

TOP = 15
MARKERS = (
    ("SizeEstimator", lambda cls, m: cls.startswith("org/apache/spark/util/SizeEstimator")),
    ("ClosureCleaner", lambda cls, m: cls.startswith("org/apache/spark/util/")
     and "ClosureCleaner" in cls),
    ("ScalaUDF", lambda cls, m: cls.startswith("org/apache/spark/sql/catalyst/expressions/ScalaUDF")),
    ("SimpleHigherOrderFunction", lambda cls, m:
     cls == "org/apache/spark/sql/catalyst/expressions/SimpleHigherOrderFunction"),
    ("StaticInvoke.eval", lambda cls, m:
     cls == "org/apache/spark/sql/catalyst/expressions/objects/StaticInvoke" and m == "eval"),
    ("JavaSerialization", lambda cls, m: cls in ("java/io/ObjectOutputStream",
                                                  "java/io/ObjectInputStream")),
)
# (cause, class prefixes): the first frame on the root side of a
# SizeEstimator sample that starts with one of the prefixes names its cause
_COLL = "org/apache/spark/util/collection/"
SIZE_CAUSES = (
    ("cache unroll", (_COLL + "SizeTrackingVector", "org/apache/spark/storage/memory/")),
    ("shuffle sort/combine", (_COLL + "PartitionedPairBuffer",
                              _COLL + "SizeTrackingAppendOnlyMap")),
)
GROUPS = ("main", "executor")


def group_of(thread):
    name = (thread or {}).get("javaName") or ""
    if name == "main":
        return "main"
    if name.startswith("Executor task launch worker"):
        return "executor"
    return None


def frames_of(event):
    """(class, method) per frame, leaf first."""
    trace = event["values"].get("stackTrace") or {}
    out = []
    for f in trace.get("frames") or []:
        m = f.get("method") or {}
        out.append(((m.get("type") or {}).get("name") or "", m.get("name") or ""))
    return out


def marker_of(frames):
    """The marker nearest the leaf, and the index of its frame."""
    for i, (cls, m) in enumerate(frames):
        for name, hit in MARKERS:
            if hit(cls, m):
                return name, i
    return None, None


def size_cause(frames):
    """The SIZE_CAUSES name of a SizeEstimator sample's frames, root side of
    the marker, or "other"."""
    for cls, _ in frames:
        for name, prefixes in SIZE_CAUSES:
            if cls.startswith(prefixes):
                return name
    return "other"


def graft_frame(frames):
    for cls, m in frames:
        if cls.startswith("graft/"):
            return "%s.%s" % (cls.replace("/", "."), m)
    return None


def summarize(events):
    """{group: {"samples": n, "markers": Counter, "size": Counter,
    "graft": Counter}}, other."""
    out = {g: {"samples": 0, "markers": collections.Counter(),
               "size": collections.Counter(), "graft": collections.Counter()}
           for g in GROUPS}
    other = 0
    for e in events:
        if e.get("type") != "jdk.ExecutionSample":
            continue
        g = group_of(e["values"].get("sampledThread"))
        if g is None:
            other += 1
            continue
        frames = frames_of(e)
        s = out[g]
        s["samples"] += 1
        mk, at = marker_of(frames)
        if mk:
            s["markers"][mk] += 1
        if mk == "SizeEstimator":
            s["size"][size_cause(frames[at + 1:])] += 1
        gf = graft_frame(frames)
        if gf:
            s["graft"][gf] += 1
    return out, other


def render(summary, other):
    lines = []
    total = sum(s["samples"] for s in summary.values()) + other
    lines.append("samples: %d (main %d, executor %d, other threads %d)" % (
        total, summary["main"]["samples"], summary["executor"]["samples"], other))
    for g in GROUPS:
        s = summary[g]
        n = s["samples"]
        lines.append("")
        lines.append("%s thread%s: %d samples" % (g, "" if g == "main" else "s", n))
        for name, _ in MARKERS:
            c = s["markers"][name]
            lines.append("  %-26s %6d  %5.1f%%" % (name, c, 100.0 * c / n if n else 0.0))
            if name == "SizeEstimator":
                for cause in [c for c, _ in SIZE_CAUSES] + ["other"]:
                    c = s["size"][cause]
                    lines.append("    %-24s %6d  %5.1f%%" % (cause, c,
                                                          100.0 * c / n if n else 0.0))
        lines.append("  top graft frames:")
        for f, c in s["graft"].most_common(TOP):
            lines.append("  %6d  %5.1f%%  %s" % (c, 100.0 * c / n if n else 0.0, f))
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("json", help="output of jfr print --json")
    a = ap.parse_args(argv)
    with open(a.json) as f:
        doc = json.load(f)
    summary, other = summarize(doc["recording"]["events"])
    print(render(summary, other))


if __name__ == "__main__":
    main()
