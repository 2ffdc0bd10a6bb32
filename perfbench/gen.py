"""Seeded input generator for the perfbench workloads.

Writes each workload's inputs as parquet (pyarrow) plus a ``truth.json``
holding the ground truth the run checks against. The program under test
only ever reads the generated files. One process, numpy + pyarrow, at
most ``nproc`` Arrow threads.

    python3 perfbench/gen.py --workload curate_batch --seed 7 --out DIR

Why each input property has the value it has is recorded in
``perfbench/layers.json`` (``inputs``) and summarised next to the
constants below.
"""

from __future__ import annotations

import argparse
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- shared text model --------------------------------------------------------

#: English stopwords at the head of the Zipf ranking: text_stats' language
#: and quality gates key on them, so generated prose passes the gates the
#: way real English does.
STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "it", "that", "for",
             "was", "on", "with", "as", "by", "at", "from", "this", "be", "are"]
_CONS = list("bcdfghjkmnprstvwz")
_VOWS = list("aeiou")

#: vocabulary size: at least tens of thousands of distinct tokens, so
#: shingle / span / candidate-pair counts behave like real text (the sf0.1
#: test data's ``documents`` table has 31 distinct words)
VOCAB = 50_000
#: Zipf exponent of token frequency (natural-language range 1.0-1.2)
ZIPF_A = 1.1


def vocabulary(rng: np.random.Generator, size: int = VOCAB) -> np.ndarray:
    """``size`` distinct lowercase pseudo-words of 2-4 CV syllables (even
    lengths >= 4, so none collides with a 2-3 letter language marker),
    stopwords first."""
    syl = [c + v for c in _CONS for v in _VOWS]
    n = 3 * size
    lens = rng.integers(2, 5, n)
    idx = rng.integers(0, len(syl), (n, 4))
    words: dict[str, None] = dict.fromkeys(STOPWORDS)
    for k, row in zip(lens, idx):
        words.setdefault("".join(syl[j] for j in row[:k]))
        if len(words) == size:
            break
    if len(words) < size:
        raise RuntimeError(f"only {len(words)} distinct words drawn")
    return np.array(list(words), dtype=object)


class TextModel:
    """Zipf token sampler over a seeded vocabulary."""

    def __init__(self, rng: np.random.Generator, size: int = VOCAB,
                 a: float = ZIPF_A):
        self.rng = rng
        self.vocab = vocabulary(rng, size)
        ranks = np.arange(1, size + 1, dtype=np.float64)
        p = ranks ** -a
        self.cdf = np.cumsum(p / p.sum())

    def tokens(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return list(self.vocab[np.minimum(idx, len(self.vocab) - 1)])


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def _truth(out: str, truth: dict) -> None:
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)


# -- topic_io -----------------------------------------------------------------

#: messages per pass and produce batches they are split into
TOPIC_MESSAGES = 3_000
TOPIC_BATCHES = 2
TOPIC_PARTITIONS = 4
#: distinct keys and their Zipf exponent: a hot head makes compaction
#: collapse many writes per key and skews partitions the way keyed
#: production topics are skewed
TOPIC_KEYS = 1_000
KEY_ZIPF_A = 1.2
#: share of messages that are tombstones (null value): compaction must
#: delete those keys, and decode must pass nulls through
TOMBSTONE_SHARE = 0.08
#: grep pattern: a stopword between spaces (the truth counts it on the
#: exact Avro bytes, where a length byte can also read as a space)
GREP_PATTERN = " the "

TOPIC_AVRO_SCHEMA = {
    "type": "record", "name": "Order", "namespace": "perfbench",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "user", "type": "string"},
        {"name": "amount_cents", "type": "long"},
        {"name": "qty", "type": "int"},
        {"name": "note", "type": "string"},
    ],
}


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def avro_bytes(mid: int, user: str, cents: int, qty: int, note: str) -> bytes:
    """Avro binary of one ``Order`` record (the spec's encoding: zigzag
    varints, length-prefixed UTF-8), to count grep hits and topic bytes
    on the exact bytes the topic holds."""
    out = bytearray(_zigzag(mid))
    for s in (user,):
        b = s.encode()
        out += _zigzag(len(b)) + b
    out += _zigzag(cents) + _zigzag(qty)
    b = note.encode()
    return bytes(out + _zigzag(len(b)) + b)


def payload_crc(mid: int, user: str, cents: int, qty: int, note: str) -> int:
    """CRC32 of one payload's canonical string — the same expression the
    run evaluates in Spark (``crc32(concat_ws('|', ...))``)."""
    return zlib.crc32(f"{mid}|{user}|{cents}|{qty}|{note}".encode())


def gen_topic_io(seed: int, out: str) -> dict:
    rng = np.random.default_rng(seed)
    text = TextModel(rng, 5_000)
    n = TOPIC_MESSAGES
    ranks = np.arange(1, TOPIC_KEYS + 1, dtype=np.float64) ** -KEY_ZIPF_A
    key_idx = rng.choice(TOPIC_KEYS, n, p=ranks / ranks.sum())
    keys = [f"key-{i:05d}" for i in key_idx]
    tomb = rng.random(n) < TOMBSTONE_SHARE
    ids = np.arange(n, dtype=np.int64)
    users = [f"user-{u:04d}" for u in rng.integers(0, 2_000, n)]
    cents = rng.integers(1, 1_000_000, n).astype(np.int64)
    qty = rng.integers(1, 50, n).astype(np.int32)
    notes = [" ".join(text.tokens(int(k))) for k in rng.integers(4, 24, n)]
    batch = np.minimum(ids * TOPIC_BATCHES // n, TOPIC_BATCHES - 1)
    _write({"key": keys, "tombstone": tomb, "id": ids, "user": users,
            "amount_cents": cents, "qty": qty, "note": notes,
            "batch": batch.astype(np.int32)},
           os.path.join(out, "messages.parquet"))
    live: dict[str, int] = {}
    for k, t, i in zip(keys, tomb, ids):
        if t:
            live.pop(k, None)
        else:
            live[k] = int(i)
    digest = sum(payload_crc(int(i), u, int(c), int(q), s)
                 for i, u, c, q, s, t in zip(ids, users, cents, qty, notes, tomb)
                 if not t)
    values = [None if t else avro_bytes(int(i), u, int(c), int(q), s)
              for i, u, c, q, s, t in zip(ids, users, cents, qty, notes, tomb)]
    pat = GREP_PATTERN.encode()
    grep_hits = sum(1 for k, v in zip(keys, values)
                    if pat in k.encode() or (v is not None and pat in v))
    key_bytes = sum(len(k) for k in keys)
    topic_bytes = key_bytes + sum(len(v) for v in values if v is not None)
    truth = {
        "messages": n, "batches": TOPIC_BATCHES,
        "partitions": TOPIC_PARTITIONS,
        "batch_sizes": np.bincount(batch, minlength=TOPIC_BATCHES).tolist(),
        "tombstones": int(tomb.sum()), "live": live,
        "payload_crc_sum": int(digest), "grep_pattern": GREP_PATTERN,
        "grep_hits": int(grep_hits), "topic_bytes": int(topic_bytes),
        "key_bytes": int(key_bytes),
        "avro_schema": TOPIC_AVRO_SCHEMA,
    }
    _truth(out, truth)
    return truth


# -- curate_batch -------------------------------------------------------------

CURATE_DOCS = 600
#: 16-token boilerplate headers (two aligned 8-token spans) shared by a
#: share of documents: what span dedup exists to strip
SPAN_TOKENS = 8
BOILERPLATES = 12
BOILERPLATE_SHARE = 0.3
#: share of documents that are near-duplicate copies (1% token edits,
#: copy j shifted by j tokens so span dedup leaves them to MinHash) and
#: exact copies (removed whole by span dedup)
NEAR_DUP_SHARE = 0.08
EXACT_DUP_SHARE = 0.03
#: eval slice: items, and corpus documents leaking a 12-token passage of
#: one (decontamination at n=8 must drop them)
EVAL_ITEMS = 60
LEAK_DOCS = 15
DECONTAM_N = 8


def gen_curate_batch(seed: int, out: str) -> dict:
    rng = np.random.default_rng(seed)
    text = TextModel(rng)
    n = CURATE_DOCS
    headers = [text.tokens(2 * SPAN_TOKENS) for _ in range(BOILERPLATES)]
    evals = [text.tokens(int(rng.integers(30, 60))) for _ in range(EVAL_ITEMS)]
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = int(n * EXACT_DUP_SHARE)
    n_base = n - n_near - n_exact
    base: list[list[str]] = []
    for _ in range(n_base):
        body = text.tokens(int(rng.integers(120, 300)))
        head = (headers[int(rng.integers(BOILERPLATES))]
                if rng.random() < BOILERPLATE_SHARE else [])
        base.append(head + body)
    # leaks go into plain base documents that nothing copies
    leak_src = rng.permutation(n_base)
    leaks = leak_src[:LEAK_DOCS]
    copyable = leak_src[LEAK_DOCS:]
    for j, d in enumerate(leaks):
        item = evals[j % EVAL_ITEMS]
        at = int(rng.integers(0, len(item) - 12))
        pos = int(rng.integers(20, len(base[d]) - 20))
        base[d] = base[d][:pos] + item[at:at + 12] + base[d][pos:]
    # near-duplicate groups of 2-4 members around a base document
    groups: list[list[int]] = []  # indices into the final doc list
    docs = [list(t) for t in base]
    src_pool = list(rng.permutation(copyable))
    made = 0
    while made < n_near:
        src = int(src_pool.pop())
        k = min(int(rng.integers(1, 4)), n_near - made)
        members = [src]
        for j in range(1, k + 1):
            toks = list(base[src])
            edits = rng.choice(len(toks), max(1, len(toks) // 100), replace=False)
            for e in edits:
                toks[e] = text.tokens(1)[0]
            # shift each copy's span alignment by a different amount, so
            # span dedup sees no shared span between any two members
            toks[:0] = text.tokens(j)
            members.append(len(docs))
            docs.append(toks)
        groups.append(members)
        made += k
    exact_groups: list[list[int]] = []
    for _ in range(n_exact):
        src = int(src_pool.pop())
        exact_groups.append([src, len(docs)])
        docs.append(list(base[src]))
    # ids: a seeded permutation, so copies are not adjacent to originals
    perm = rng.permutation(len(docs))
    ids = (perm * 7 + 1000).astype(np.int64)

    def remap(gs):
        return [sorted(int(ids[i]) for i in g) for g in gs]

    _write({"doc_id": ids, "text": [" ".join(t) for t in docs]},
           os.path.join(out, "docs.parquet"))
    _write({"doc_id": np.arange(EVAL_ITEMS, dtype=np.int64),
            "text": [" ".join(t) for t in evals]},
           os.path.join(out, "eval.parquet"))
    near = remap(groups)
    exact = remap(exact_groups)
    planted = {i for g in near + exact for i in g[1:]} | {int(ids[d]) for d in leaks}
    truth = {
        "docs": len(docs), "tokens": int(sum(len(t) for t in docs)),
        "distinct_tokens": len({w for t in docs for w in t}),
        "near_dup_groups": near, "exact_dup_groups": exact,
        "leaked_ids": sorted(int(ids[d]) for d in leaks),
        # everything else is a clean document every stage keeps
        "survivors": sorted(set(int(i) for i in ids) - planted),
        "spans_total": int(sum(-(-len(t) // SPAN_TOKENS) for t in docs)),
        "span_tokens": SPAN_TOKENS, "decontam_n": DECONTAM_N,
    }
    _truth(out, truth)
    return truth


# -- stream_epochs ------------------------------------------------------------

#: epochs generated; a run feeds them one per trigger until its time is
#: up, so this only has to outlast the longest run
STREAM_EPOCHS = 60
DOCS_PER_EPOCH = 100
#: share of documents (from epoch 1 on) that repeat 1-3 aligned spans of
#: earlier epochs: the state lookups that must remove them, and the
#: history that grows
REPEAT_SHARE = 0.3


def span_dedup_first(docs: list[tuple[int, str]], span_tokens: int) -> dict:
    """Reference semantics of ``span_dedup(keep='first',
    max_occurrences=1)`` in arrival order: id -> (kept text, spans kept);
    documents with no kept span are absent."""
    seen: set[str] = set()
    out = {}
    for did, txt in sorted(docs):
        toks = txt.split()
        spans = [" ".join(toks[i:i + span_tokens])
                 for i in range(0, len(toks), span_tokens)]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        if kept:
            out[did] = (" ".join(kept), len(kept))
    return out


def gen_stream_epochs(seed: int, out: str) -> dict:
    rng = np.random.default_rng(seed)
    text = TextModel(rng)
    ep_dir = os.path.join(out, "epochs")
    os.makedirs(ep_dir, exist_ok=True)
    history: list[list[str]] = []  # aligned full spans seen so far
    all_docs: list[tuple[int, str]] = []
    did = 0
    for e in range(STREAM_EPOCHS):
        ids, texts = [], []
        sizes = rng.integers(4, 10, DOCS_PER_EPOCH)
        pool = text.tokens(int(sizes.sum()) * SPAN_TOKENS)
        at = 0
        for n_spans in sizes:
            spans = [pool[at + k * SPAN_TOKENS:at + (k + 1) * SPAN_TOKENS]
                     for k in range(n_spans)]
            at += n_spans * SPAN_TOKENS
            if e > 0 and rng.random() < REPEAT_SHARE:
                for _ in range(int(rng.integers(1, 4))):
                    slot = int(rng.integers(n_spans))
                    spans[slot] = history[int(rng.integers(len(history)))]
            ids.append(did)
            texts.append(" ".join(" ".join(s) for s in spans))
            did += 1
        for t in texts:
            toks = t.split()
            history.extend(toks[i:i + SPAN_TOKENS]
                           for i in range(0, len(toks), SPAN_TOKENS))
        _write({"doc_id": np.array(ids, dtype=np.int64), "text": texts},
               os.path.join(ep_dir, f"epoch-{e:04d}.parquet"))
        all_docs.extend(zip(ids, texts))
    survivors = span_dedup_first(all_docs, SPAN_TOKENS)
    truth = {
        "epochs": STREAM_EPOCHS, "docs_per_epoch": DOCS_PER_EPOCH,
        "docs": len(all_docs), "span_tokens": SPAN_TOKENS,
        # keep='first' is causal, so the survivors of any prefix of the
        # epochs are these restricted to the prefix's documents
        "survivors": {str(k): list(v) for k, v in survivors.items()},
    }
    _truth(out, truth)
    return truth


def gen_topic_curate(seed: int, out: str) -> dict:
    """The inputs of ``topic_io`` and ``curate_batch``, one subdirectory
    each."""
    truth = {}
    for name in ("topic_io", "curate_batch"):
        os.makedirs(os.path.join(out, name), exist_ok=True)
        truth[name] = GENERATORS[name](seed, os.path.join(out, name))
    return truth


GENERATORS = {"topic_io": gen_topic_io, "curate_batch": gen_curate_batch,
              "stream_epochs": gen_stream_epochs,
              "topic_curate": gen_topic_curate}


def generate(workload: str, seed: int, out: str) -> dict:
    pa.set_cpu_count(len(os.sched_getaffinity(0)))
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    t = generate(a.workload, a.seed, a.out)
    print(json.dumps({k: v for k, v in t.items() if isinstance(v, (int, str))}))


if __name__ == "__main__":
    main()
