"""Seeded input generator for the benchmark workloads.

Owned by the benchmark on purpose: it does not import
``openmldb_spark.fixtures``, so editing the test fixtures cannot change
what the benchmark measures. Table shapes follow FIXTURES.md F1
(``transcripts``) and F3 (``conv_meta``); the ``documents`` table is one
conversation per document, turns joined by newlines.

Conversation sizes are drawn from a Zipf law by stratified quantiles
rather than by sampling, so every seed produces the same size histogram
(same total turns, same largest conversation). The seed decides which
conversation gets which size and everything inside the rows. That keeps
throughput comparable across seeds while the contents change.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_MS = 1_704_067_200_000          # 2024-01-01T00:00:00Z
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "code", "browser", "files"])
WORDS = np.array(
    "the a and to of in is it you that was for on are with as at be this "
    "have from or had by word what some we can out other were all there "
    "when up use your how said an each she which do their time if will "
    "way about many then them write would like so these her long make "
    "thing see him two has look more day could go come did number sound "
    "no most people my over know water than call first who may down side "
    "been now find any new work part take get place made live where after "
    "back little only round man year came show every good me give our "
    "under name very through just form sentence great think say help low "
    "line differ turn cause much mean before move right boy old too same "
    "tell does set three want air well also play small end put home read "
    "hand port large spell add even land here must big high such follow "
    "act why ask men change went light kind off need house picture try us "
    "again animal point mother world near build self earth father".split())
BOILERPLATE = [
    "Accept all cookies to continue browsing",
    "Home | About | Contact | Privacy policy",
    "Copyright 2024 Example Corp. All rights reserved.",
    "Sign up for our newsletter for weekly updates",
    "Click here to read the full terms of service",
    "This conversation was exported from the assistant console",
]
SESSION_GAP_MS = 30 * 60 * 1000

# Per-workload shapes. ``zipf_a`` is the exponent of the size law,
# ``max_turns`` its cap. ``meta_versions`` is conv_meta rows per
# conversation.
SHAPES = {
    "pit_long": dict(n_convs=300, zipf_a=1.0, max_turns=4000,
                     meta_versions=4),
    "pit_short": dict(n_convs=6000, zipf_a=2.5, max_turns=60,
                      meta_versions=3),
    "curate_docs": dict(n_convs=1000, zipf_a=1.6, max_turns=80),
}


def zipf_sizes(n: int, a: float, cap: int) -> np.ndarray:
    """``n`` conversation sizes following P(k) ~ k^-a on 1..cap, taken at
    the stratified quantiles (i + 0.5) / n, largest first."""
    k = np.arange(1, cap + 1, dtype=np.float64)
    cdf = np.cumsum(k ** -a)
    cdf /= cdf[-1]
    u = (np.arange(n) + 0.5) / n
    return np.sort(np.searchsorted(cdf, u) + 1)[::-1].astype(np.int64)


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    nwords = rng.integers(lo, hi, size=n)
    flat = WORDS[rng.integers(0, len(WORDS), size=int(nwords.sum()))]
    words = np.split(flat, np.cumsum(nwords)[:-1])
    return np.array([" ".join(w) for w in words], dtype=object)


def _turns(rng: np.random.Generator, sizes: np.ndarray) -> dict:
    n_convs = len(sizes)
    conv_of_rank = rng.permutation(n_convs)
    sizes = sizes[np.argsort(conv_of_rank)]      # size of conv i
    n = int(sizes.sum())
    conv = np.repeat(np.arange(n_convs), sizes)
    starts = np.cumsum(sizes) - sizes
    turn_idx = np.arange(n) - np.repeat(starts, sizes)

    # ts: per-conversation start + cumulative gaps; ~5% zero gaps (tie
    # rows), ~2% gaps longer than the session gap
    deltas = rng.integers(500, 120_000, size=n)
    deltas[rng.random(n) < 0.05] = 0
    jump = rng.random(n) < 0.02
    deltas[jump] = SESSION_GAP_MS + rng.integers(1_000, 600_000,
                                                 size=int(jump.sum()))
    deltas[turn_idx == 0] = 0
    g = np.cumsum(deltas)
    ts = (BASE_TS_MS + np.repeat(rng.integers(0, 20 * 86_400_000,
                                              size=n_convs), sizes)
          + g - np.repeat(g[starts], sizes))
    return dict(conv=conv, turn_idx=turn_idx, ts=ts, sizes=sizes,
                first_ts=ts[starts], last_ts=ts[starts + sizes - 1])


def _conv_ids(idx: np.ndarray) -> np.ndarray:
    return np.char.add("conv_", np.char.zfill(idx.astype(str), 6))


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def gen_pit(seed: int, out_dir: str, shape: dict) -> dict:
    """``turns.parquet`` (F1) and ``conv_meta.parquet`` (F3) for one
    point-in-time workload. Returns the input record."""
    rng = np.random.default_rng(seed)
    sizes = zipf_sizes(shape["n_convs"], shape["zipf_a"], shape["max_turns"])
    t = _turns(rng, sizes)
    n = len(t["conv"])
    ts = t["ts"].astype("datetime64[ms]")
    null_ts = rng.random(n) < 0.01
    text = _texts(rng, n, 0, 14)
    text[rng.random(n) < 0.03] = None
    tool = TOOLS[rng.integers(0, len(TOOLS), size=n)].astype(object)
    tool[rng.random(n) < 0.6] = None
    turns = pa.table({
        "conv_id": pa.array(_conv_ids(t["conv"])),
        "turn_idx": pa.array(t["turn_idx"].astype(np.int32)),
        "role": pa.array(ROLES[rng.integers(0, len(ROLES), size=n)]),
        "text": pa.array(text, type=pa.string()),
        "tool": pa.array(tool, type=pa.string()),
        "ts": pa.array(ts, mask=null_ts, type=pa.timestamp("ms", tz="UTC")),
    })

    # conv_meta: versions spread from a day before each conversation to a
    # day after its last turn (the late ones must never join), ~10% tied
    # version timestamps, conv_ids missing from turns, ~5% NULL score
    n_convs = len(t["sizes"])
    v = shape["meta_versions"]
    ids = np.repeat(np.arange(n_convs + n_convs // 20), v)
    known = ids < n_convs
    lo = np.where(known, t["first_ts"][np.minimum(ids, n_convs - 1)]
                  - 86_400_000, BASE_TS_MS)
    hi = np.where(known, t["last_ts"][np.minimum(ids, n_convs - 1)]
                  + 86_400_000, BASE_TS_MS + 30 * 86_400_000)
    mts = lo + (rng.random(len(ids)) * (hi - lo)).astype(np.int64)
    tie = np.flatnonzero(rng.random(len(ids)) < 0.1)
    tie = tie[(tie > 0) & (ids[tie] == ids[tie - 1])]
    mts[tie] = mts[tie - 1]
    score = np.round(rng.random(len(ids)) * 100, 3)
    meta = pa.table({
        "conv_id": pa.array(_conv_ids(ids)),
        "ts": pa.array(mts.astype("datetime64[ms]"),
                       type=pa.timestamp("ms", tz="UTC")),
        "segment": pa.array(np.array(["free", "pro", "team", "enterprise"])[
            rng.integers(0, 4, size=len(ids))]),
        "score": pa.array(score, mask=rng.random(len(ids)) < 0.05),
    })
    os.makedirs(out_dir, exist_ok=True)
    nbytes = (_write(turns, os.path.join(out_dir, "turns.parquet"))
              + _write(meta, os.path.join(out_dir, "conv_meta.parquet")))
    return {
        "rows": n, "rows_valid_ts": int(n - null_ts.sum()),
        "conversations": n_convs, "largest_conversation": int(sizes.max()),
        "meta_rows": meta.num_rows, "bytes": nbytes, "files": 2,
        "planted_duplicates": 0,
    }


def gen_docs(seed: int, out_dir: str, shape: dict) -> dict:
    """``documents.parquet`` — ONE file: each document is one
    conversation's turns joined by newlines, with planted boilerplate
    lines, PII spans, exact duplicates and near duplicates."""
    rng = np.random.default_rng(seed)
    sizes = zipf_sizes(shape["n_convs"], shape["zipf_a"], shape["max_turns"])
    t = _turns(rng, sizes)
    lines = _texts(rng, len(t["conv"]), 3, 16)
    bounds = np.cumsum(t["sizes"])[:-1]
    docs = ["\n".join(ls) for ls in np.split(lines, bounds)]
    n_base = len(docs)
    pii = [" contact jane.doe{}@example.com now", " call +1 (555) 01{}-2231",
           " from host 10.0.{}.7 today"]
    for i in range(n_base):
        extra = [BOILERPLATE[j] for j in
                 rng.choice(len(BOILERPLATE), size=rng.integers(0, 3),
                            replace=False)]
        if rng.random() < 0.2:
            docs[i] += pii[rng.integers(0, 3)].format(rng.integers(10, 99))
        docs[i] = "\n".join(extra[:1] + [docs[i]] + extra[1:])
    # planted copies: 6% exact, 4% near (one word appended to the last line)
    n_exact, n_near = n_base * 6 // 100, n_base * 4 // 100
    src = rng.choice(n_base, size=n_exact + n_near, replace=False)
    for j, s in enumerate(src):
        docs.append(docs[s] if j < n_exact
                    else docs[s] + " " + str(WORDS[rng.integers(len(WORDS))]))
    order = rng.permutation(len(docs))          # copies land anywhere
    doc_id = np.empty(len(docs), dtype=np.int64)
    doc_id[order] = np.arange(len(docs))
    # a planted exact copy is a duplicate unless it got the smaller id
    dup_ids = [int(max(doc_id[s], doc_id[n_base + j]))
               for j, s in enumerate(src[:n_exact])]
    table = pa.table({
        "doc_id": pa.array(doc_id),
        "source": pa.array(np.array(["src0", "src1", "src2"])[
            rng.integers(0, 3, size=len(docs))]),
        "text": pa.array(docs, type=pa.string()),
    }).take(pa.array(np.argsort(doc_id)))
    os.makedirs(out_dir, exist_ok=True)
    nbytes = _write(table, os.path.join(out_dir, "documents.parquet"))
    return {
        "rows": len(docs), "conversations": n_base,
        "largest_conversation": int(sizes.max()), "bytes": nbytes,
        "files": 1, "text_bytes": int(sum(len(d) for d in docs)),
        "planted_duplicates": n_exact, "planted_near_duplicates": n_near,
        "duplicate_ids": sorted(dup_ids),
    }


def generate(workload: str, seed: int, out_dir: str) -> dict:
    shape = SHAPES[workload]
    if workload == "curate_docs":
        return gen_docs(seed, out_dir, shape)
    return gen_pit(seed, out_dir, shape)
