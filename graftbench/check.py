"""Output checks for the graft benchmark, run outside the timed region.

Every query run comes back from the driver as its row count, an
order-independent digest of its rows and, for queries with small outputs,
the rows themselves (see DigestSink.scala for the row encoding). Each run is
checked against the generator's ground truth:

  text_curate  text_clean, text_wordcount, text_doc_term and pipeline_curate
               equal their values recomputed from the clean words.
  near_dup     pairs and j_bp equal an exact Jaccard computed per `source`
               block (word sets at J >= 0.90, word 3-shingles at J >= 0.20);
               dedup_minhash_lsh is a subset of dedup_shingle_jaccard.
  topic_model  topic reports have 5 rows of 20 distinct in-vocabulary terms;
               lda_doc_topics has one row per document that keeps a token;
               every query gives the same digest on every pass.
"""

import collections
import hashlib

import gen

SEP = "\x1f"
MASK = (1 << 64) - 1
# The engine's vendored stopwords. They are also the only words of the
# generated corpora in Spark's english list, which the LDA preprocess
# removes: every other generated word is a pseudo-word.
STOPWORDS = set(gen.STOPWORDS)
NUM_TOPICS = 5
TOP_WORDS = 20


def encode(fields):
    return SEP.join(str(f) for f in fields)


def row_digest(line):
    return int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")


def digest(rows):
    """(count, digest) of rows given as tuples, as DigestSink computes them."""
    total = 0
    for r in rows:
        total = (total + row_digest(encode(r))) & MASK
    return len(rows), str(total)


# ---------------------------------------------------------------- text_curate

def text_expected(truth):
    """Expected rows of the four text_curate queries, from the clean words."""
    clean = truth["clean"]
    out = {"text_clean": [(i, " ".join(ws)) for i, ws in enumerate(clean)]}
    counts = collections.Counter()
    for ws in clean:
        counts.update(w for w in ws if w not in STOPWORDS)
    out["text_wordcount"] = list(counts.items())
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    pos = {w: i for i, (w, _) in enumerate(top)}
    doc_term = []
    for i, ws in enumerate(clean):
        ps = sorted(pos[w] for w in ws if w in pos)
        if ps:
            doc_term.append((i, ",".join(map(str, ps)), len(ps)))
    out["text_doc_term"] = doc_term
    canonical = {}
    for i, ws in enumerate(clean):
        canonical.setdefault(" ".join(ws), i)
    curate = []
    for i, ws in enumerate(clean):
        n = len(ws)
        n_stop = sum(w in STOPWORDS for w in ws)
        stop_bp = (10000 * n_stop) // n if n else 0
        if canonical[" ".join(ws)] == i and n >= 20 and stop_bp <= 2000:
            curate.append((i, n, stop_bp))
    out["pipeline_curate"] = curate
    return {q: digest(rows) for q, rows in out.items()}


# ---------------------------------------------------------------- near_dup

def _jaccard_pairs(sets, source, num, den):
    """Pairs (d1 < d2) in the same block with |A∩B| / |A∪B| >= num/den, as
    {(d1, d2): j_bp}. Exact: candidates come from a prefix filter over a
    global rare-first token order, then every candidate is verified."""
    df = collections.Counter()
    for s in sets:
        df.update(s)
    order = {t: k for k, t in enumerate(sorted(df, key=lambda t: (df[t], t)))}
    index = collections.defaultdict(list)
    cands = set()
    for d, s in enumerate(sets):
        if not s:
            continue
        toks = sorted(s, key=order.__getitem__)
        need = -(-num * len(toks) // den)  # ceil(t * |A|)
        for t in toks[:len(toks) - need + 1]:
            key = (source[d], t)
            for e in index[key]:
                cands.add((e, d))
            index[key].append(d)
    out = {}
    for a, b in cands:
        ni = len(sets[a] & sets[b])
        u = len(sets[a]) + len(sets[b]) - ni
        if den * ni >= num * u:
            out[(a, b)] = (10000 * ni) // u
    return out


def shingles(ws):
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)} if len(ws) >= 3 else set()


def near_dup_expected(truth):
    clean, source = truth["clean"], truth["source"]
    words = [set(ws) for ws in clean]
    return {
        "dedup_jaccard_pairs": _jaccard_pairs(words, source, 9, 10),
        "dedup_shingle_jaccard": _jaccard_pairs([shingles(ws) for ws in clean], source, 1, 5),
    }


def _pairs(kept):
    out = {}
    for line in kept:
        d1, d2, j = line.split(SEP)
        out[(int(d1), int(d2))] = int(j)
    return out


def _diff(got, want):
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
    if not (missing or extra or wrong):
        return None
    return "%d missing %s, %d extra %s, %d wrong j_bp %s" % (
        len(missing), missing[:3], len(extra), extra[:3], len(wrong),
        [(k, got[k], want[k]) for k in wrong[:3]])


# ---------------------------------------------------------------- topic_model

def check_topics(kept, vocab, integer_weights):
    """A topic report: 5 rows, topics 0..4, 20 distinct in-vocabulary terms
    and 20 positive, non-increasing weights each."""
    if len(kept) != NUM_TOPICS:
        return "%d topic rows, want %d" % (len(kept), NUM_TOPICS)
    seen = set()
    for line in kept:
        topic, terms, weights = line.split(SEP)
        seen.add(int(topic))
        ts, ws = terms.split(" "), weights.split(" ")
        if len(ts) != TOP_WORDS or len(set(ts)) != TOP_WORDS:
            return "topic %s: %d terms, %d distinct" % (topic, len(ts), len(set(ts)))
        out = [t for t in ts if t not in vocab]
        if out:
            return "topic %s: terms not in the vocabulary: %s" % (topic, out[:3])
        vals = [int(w) if integer_weights else float(w) for w in ws]
        if len(vals) != TOP_WORDS or min(vals) <= 0 or vals != sorted(vals, reverse=True):
            return "topic %s: weights not %d positive non-increasing values" % (topic, TOP_WORDS)
    if seen != set(range(NUM_TOPICS)):
        return "topics %s, want 0..%d" % (sorted(seen), NUM_TOPICS - 1)
    return None


def topic_docs(truth):
    """Documents that keep a token through the LDA preprocess."""
    return sum(any(w not in STOPWORDS for w in ws) for ws in truth["clean"])


# ---------------------------------------------------------------- runs

def expected(workload, truth):
    if workload == "text_curate":
        return text_expected(truth)
    if workload == "near_dup":
        return near_dup_expected(truth)
    return {"vocab": set(truth["vocab"]), "docs": topic_docs(truth)}


def check_query(workload, name, res, want, shingle_rows=None):
    """None if the run's result `res` ({rows, digest, kept}) is right, else
    why not. `shingle_rows` is this pass's dedup_shingle_jaccard result."""
    if workload == "text_curate":
        got = (res["rows"], res["digest"])
        if got != want[name]:
            return "rows/digest %s, want %s" % (got, want[name])
        return None
    if workload == "near_dup":
        got = _pairs(res["kept"])
        if name == "dedup_minhash_lsh":
            exact = want["dedup_shingle_jaccard"]
            bad = sorted(k for k in got if exact.get(k) != got[k])
            if bad:
                return "%d rows not in dedup_shingle_jaccard: %s" % (len(bad), bad[:3])
            if shingle_rows is not None:
                missing = sorted(set(got) - set(_pairs(shingle_rows)))
                if missing:
                    return "%d rows missing from this pass's shingle pairs: %s" % (
                        len(missing), missing[:3])
            return None
        return _diff(got, want[name])
    if name == "lda_doc_topics":
        if res["rows"] != want["docs"]:
            return "%s rows, want %d" % (res["rows"], want["docs"])
        return None
    return check_topics(res["kept"], want["vocab"], name == "gibbs_topics")


def check_runs(workload, truth, passes):
    """Checks every query run of every pass. Returns a list of
    (pass, query, message or None); a run that raised is a failure with its
    exception message."""
    want = expected(workload, truth)
    out = []
    for p in passes:
        by_name = {q["name"]: q for q in p["queries"]}
        for q in p["queries"]:
            if q["error"] is not None or q["rows"] is None:
                out.append((p["pass"], q["name"], "raised: %s" % q["error"]))
                continue
            shingle = by_name.get("dedup_shingle_jaccard", {}).get("kept")
            out.append((p["pass"], q["name"], check_query(workload, q["name"], q, want, shingle)))
    if workload == "topic_model":
        # the same digest on every pass
        digests = collections.defaultdict(collections.Counter)
        for p in passes:
            for q in p["queries"]:
                if q["digest"] is not None:
                    digests[q["name"]][q["digest"]] += 1
        ref = {n: c.most_common(1)[0][0] for n, c in digests.items()}
        res = {(p["pass"], q["name"]): q["digest"] for p in passes for q in p["queries"]}
        out = [(pa, n, msg if msg or res[(pa, n)] in (None, ref.get(n))
                else "digest %s differs from the other passes' %s" % (res[(pa, n)], ref[n]))
               for pa, n, msg in out]
    return out
