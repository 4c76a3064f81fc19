"""Seeded corpus generator for the graft benchmark.

Writes a `documents` table (doc_id, text, lang, source, n_chars) shaped like
a tweet corpus and returns its ground truth. The text is lowercase
pseudo-words plus noise that the engine's cleaning chain removes: URLs,
@users, emoji tokens (alone or glued to a word, which drops the word), the
covid family, numbers, trailing punctuation and capitalisation. The same
seed gives byte-identical files.

    python3 gen.py --workload near_dup --seed 7 --out DIR [--truth truth.json]

Workloads:
  topic_model  docs drawn from 5 planted topics over a Zipf background; one
               file, one row group.
  near_dup     random docs in `source` blocks with planted near-duplicate
               clusters (exact copies, reordered copies, k-word edits); one
               file, one row group.
  text_curate  a larger corpus with exact duplicates, written as `parts`
               files of one row group each.
"""

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = "bcdfgklmnprstvz"
VOWELS = "aeiou"
# The engine's vendored stopword list (TextOps.StopWords); emitted as real
# tokens so the stopword filters and stop-ratio gates have work to do.
STOPWORDS = ["a", "the", "and", "of", "to", "in", "is", "it", "on", "for"]
EMOJI = ["\U0001F600", "\U0001F525", "❤", "\U0001F680", "✨", "\U0001F44D"]
COVID = ["covid", "COVID-19", "Covid19", "covid_19", "Covid"]
PUNCT = [",", ".", "!", "?"]
LANGS = ["en", "fr", "de", "es", "zh"]
NUM_TOPICS = 5

SIZES = {
    "topic_model": dict(docs=1500, vocab=1500, topic_words=120, length=(12, 30)),
    "near_dup": dict(docs=4000, vocab=4000, blocks=24, length=(20, 40),
                     clusters=240),
    "text_curate": dict(docs=30000, vocab=6000, blocks=16, length=(8, 60),
                        dup_frac=0.05),
}


def vocabulary(rng, n):
    """n distinct pseudo-words of the shapes CVCVC and CVCVCVC: lowercase
    ASCII, at least five letters, so none is a stopword of the engine's
    lists (checked by the tests) and none touches the covid family."""
    out = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        cs = rng.integers(0, len(CONSONANTS), k + 1)
        vs = rng.integers(0, len(VOWELS), k)
        w = "".join(CONSONANTS[cs[i]] + VOWELS[vs[i]] for i in range(k)) + CONSONANTS[cs[k]]
        out.add(w)
    return sorted(out)


def zipf(n, s=1.05):
    p = 1.0 / np.power(np.arange(n) + 2.7, s)
    return p / p.sum()


def _noise(rng, vocab):
    """One noise token the cleaning chain removes entirely."""
    kind = int(rng.integers(0, 5))
    if kind == 0:
        return "https://t.co/" + "".join(rng.choice(list("abcdefghijkLMNOP0123456789"), 8))
    if kind == 1:
        return "@%s_%d" % (vocab[int(rng.integers(0, len(vocab)))], int(rng.integers(0, 100)))
    if kind == 2:
        return EMOJI[int(rng.integers(0, len(EMOJI)))] * int(rng.integers(1, 3))
    if kind == 3:
        return COVID[int(rng.integers(0, len(COVID)))]
    return str(int(rng.integers(0, 3000)))


def _render(rng, docs, vocab):
    """Render each document's clean word list as raw text with noise.
    Returns (texts, kept): `kept` is the word list the cleaning chain must
    leave — every word except those glued to an emoji, lowercased."""
    flat = [w for ws in docs for w in ws]
    bounds = np.cumsum([0] + [len(ws) for ws in docs])
    r = rng.random((len(flat), 3))
    toks = list(flat)
    keep = r[:, 0] >= 0.01
    for i in np.flatnonzero(~keep):
        # a token holding an emoji is dropped whole, word included
        toks[i] = flat[i] + EMOJI[int(r[i, 1] * len(EMOJI))]
    for i in np.flatnonzero(keep & (r[:, 1] < 0.05)):
        toks[i] = toks[i].capitalize()
    for i in np.flatnonzero(keep & (r[:, 2] < 0.04)):
        toks[i] += PUNCT[int(r[i, 2] * 100) % len(PUNCT)]
    for i in np.flatnonzero(keep & (r[:, 2] > 0.98)):
        toks[i] = "#" + toks[i]
    n_noise = rng.poisson(1.2, len(docs))
    texts, kept = [], []
    for d in range(len(docs)):
        a, b = bounds[d], bounds[d + 1]
        t = toks[a:b]
        for _ in range(n_noise[d]):
            t.insert(int(rng.integers(0, len(t) + 1)), _noise(rng, vocab))
        texts.append(" ".join(t))
        kept.append([w for w, k in zip(flat[a:b], keep[a:b]) if k])
    return texts, kept


def _sample(rng, vocab, p, lengths, stop_p):
    """Word lists of the given lengths: Zipf vocabulary words, each replaced
    by an engine stopword with probability stop_p (per doc or scalar)."""
    total = int(lengths.sum())
    ids = rng.choice(len(vocab), size=total, p=p)
    per_tok = np.repeat(np.broadcast_to(stop_p, lengths.shape), lengths)
    stop = rng.random(total) < per_tok
    sw = rng.integers(0, len(STOPWORDS), total)
    words = np.array(vocab, dtype=object)[ids]
    words[stop] = np.array(STOPWORDS, dtype=object)[sw[stop]]
    words = words.tolist()
    bounds = np.cumsum(np.concatenate([[0], lengths]))
    return [words[bounds[i]:bounds[i + 1]] for i in range(len(lengths))]


def generate(workload, seed):
    """Returns (rows, truth). rows: list of dicts in the documents schema;
    truth: clean word lists, planted topics or pairs, and layout."""
    cfg = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    vocab = vocabulary(rng, cfg["vocab"])
    p = zipf(len(vocab))[rng.permutation(len(vocab))]
    lo, hi = cfg["length"]
    n = cfg["docs"]
    lengths = rng.integers(lo, hi + 1, n)
    truth = {"workload": workload, "seed": seed, "vocab": vocab}

    if workload == "topic_model":
        perm = rng.permutation(len(vocab))
        tw = cfg["topic_words"]
        topics = [[vocab[i] for i in perm[k * tw:(k + 1) * tw]] for k in range(NUM_TOPICS)]
        z = rng.integers(0, NUM_TOPICS, n)
        words = _sample(rng, vocab, p, lengths, 0.1)
        own = rng.random(int(lengths.sum())) < 0.7
        tid = rng.choice(tw, size=int(lengths.sum()), p=zipf(tw, 0.8))
        k = 0
        for d, ws in enumerate(words):
            for i in range(len(ws)):
                if own[k]:
                    ws[i] = topics[z[d]][tid[k]]
                k += 1
        docs = list(zip(["src%d" % t for t in z], words))
        truth["topics"] = topics
    elif workload == "near_dup":
        src = rng.integers(0, cfg["blocks"], n)
        docs = list(zip(["src%d" % b for b in src], _sample(rng, vocab, p, lengths, 0.05)))
        planted = []
        for c in range(cfg["clusters"]):
            orig = int(rng.integers(0, n))
            block, ws = docs[orig]
            kind = ("exact", "reorder", "edit")[c % 3]
            if kind == "exact":
                copy = list(ws)
            elif kind == "reorder":
                copy = [ws[i] for i in rng.permutation(len(ws))]
            else:
                copy = list(ws)
                for i in rng.choice(len(ws), size=int(rng.integers(1, 4)), replace=False):
                    copy[i] = vocab[int(rng.integers(0, len(vocab)))]
            planted.append((orig, len(docs), kind))
            docs.append((block, copy))
    else:
        n_dup = int(n * cfg["dup_frac"])
        src = rng.integers(0, cfg["blocks"], n - n_dup)
        stop_p = rng.uniform(0.05, 0.3, n - n_dup)
        docs = list(zip(["src%d" % b for b in src],
                        _sample(rng, vocab, p, lengths[:n - n_dup], stop_p)))
        docs += [docs[int(i)] for i in rng.integers(0, len(docs), n_dup)]

    # Row order is shuffled so copies are not adjacent to their originals.
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    texts, clean = _render(rng, [ws for _, ws in docs], vocab)
    langs = rng.integers(0, len(LANGS), len(docs))
    rows = [{"doc_id": i, "text": t, "lang": LANGS[langs[i]], "source": docs[i][0],
             "n_chars": len(t)} for i, t in enumerate(texts)]
    truth["clean"] = clean
    truth["source"] = [s for s, _ in docs]
    if workload == "near_dup":
        pos = np.empty(len(docs), dtype=np.int64)
        pos[order] = np.arange(len(docs))
        # planted pairs as [smaller doc_id, larger doc_id, kind]
        truth["planted"] = [sorted((int(pos[o]), int(pos[c]))) + [kind]
                            for o, c, kind in planted]
    return rows, truth


SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                    ("source", pa.string()), ("n_chars", pa.int64())])


def write(rows, workload, out_dir, parts):
    """Writes out_dir/documents.parquet: one file of one row group, or for
    text_curate a directory of `parts` single-row-group files."""
    table = pa.Table.from_pylist(rows, schema=SCHEMA)
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(out_dir, exist_ok=True)
    if workload != "text_curate":
        pq.write_table(table, path, row_group_size=len(rows))
        return 1
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // parts)
    for k in range(parts):
        part = table.slice(k * step, step)
        pq.write_table(part, os.path.join(path, "part-%05d.parquet" % k),
                       row_group_size=max(1, part.num_rows))
    return parts


def sizes(rows, truth, row_groups):
    """Input sizes: docs, tokens (clean words), distinct words, row groups,
    planted pairs."""
    words = set()
    tokens = 0
    for ws in truth["clean"]:
        tokens += len(ws)
        words.update(ws)
    return {"docs": len(rows), "tokens": tokens, "distinct_words": len(words),
            "row_groups": row_groups, "planted_pairs": len(truth.get("planted", []))}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--parts", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--truth")
    a = ap.parse_args()
    rows, truth = generate(a.workload, a.seed)
    groups = write(rows, a.workload, a.out, a.parts)
    if a.truth:
        with open(a.truth, "w") as f:
            json.dump(truth, f)
    print(json.dumps(sizes(rows, truth, groups)))


if __name__ == "__main__":
    main()
