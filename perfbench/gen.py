"""Seeded, vectorized input generator for the benchmark.

Everything a workload reads is written here as parquet before the
program's Spark session starts, so the program's set-up time holds only
the program's own cost. The same seed gives byte-identical inputs; the
sizes are fixed per workload, so seeds vary the content, never the
amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
DAY_US = 86_400_000_000
ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
TOOLS = np.array(["search", "python", "browser"], dtype=object)
# token-count signal: a turn's text is k copies of one token
TEXTS = np.array([" ".join(["tok"] * k) for k in range(40)], dtype=object)
N_FILES = 8  # fixed input split count: every scan runs as 8 tasks
SHAPE_SEED = 20240101  # the fixed draw of the transcripts' shape


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), N_FILES)):
        table = pa.Table.from_pandas(df.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:02d}.parquet"))


def _zipf_lengths(rng, n_convs: int, n_turns: int, min_len: int, cap: int) -> np.ndarray:
    """Zipf-skewed conversation lengths that sum to exactly ``n_turns``.

    Each conversation gets ``min_len`` turns plus a share of the rest in
    proportion to a capped Zipf(1.6) weight; the rounding remainder goes
    one turn each to randomly chosen conversations."""
    w = np.minimum(rng.zipf(1.6, n_convs), cap).astype(np.float64)
    rest = n_turns - min_len * n_convs
    extra = np.floor(w / w.sum() * rest).astype(np.int64)
    short = rest - int(extra.sum())
    extra[rng.choice(n_convs, size=short, replace=False)] += 1
    return min_len + extra


TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def transcripts(seed: int, n_convs: int, n_turns: int, span_days: int = 28) -> pd.DataFrame:
    """Transcripts with Zipf conversation lengths (giants capped),
    bursty inter-turn gaps and duplicate-timestamp ties.

    The shape of the input (each conversation's length, start time and
    gap sequence) is one fixed draw for the given sizes, so every seed
    costs the same work: the kernels' cost grows faster than a
    conversation's length, and a fresh draw per seed moved the
    single-threaded kernel CPU of all ``extract`` rows by up to 25 %
    between seeds. The seed
    decides which conversation id gets which shape, and draws every
    turn's role, tool and token count (the signal).

    Rows are sorted by (conv_id, ts, turn_idx); ``ts_us`` and ``signal``
    ride along for the benchmark's own checks and are not written."""
    shape = np.random.default_rng(SHAPE_SEED)
    lengths = _zipf_lengths(shape, n_convs, n_turns, min_len=4, cap=200)
    conv_start = shape.integers(0, (span_days - 8) * DAY_US, n_convs)
    gaps = shape.exponential(60.0, n_turns)
    burst = shape.random(n_turns) < 0.15
    gaps[burst] += shape.exponential(3600.0, int(burst.sum()))
    gaps[shape.random(n_turns) < 0.05] = 0.0  # duplicate-ts ties

    # conversation i gets shape order[i], its turns that shape's gaps
    rng = np.random.default_rng(seed)
    order = rng.permutation(n_convs)
    shape_starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))[order]
    lengths, conv_start = lengths[order], conv_start[order]
    conv = np.repeat(np.arange(n_convs), lengths)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    turn_idx = np.arange(n_turns) - np.repeat(starts, lengths)
    gaps = gaps[np.repeat(shape_starts, lengths) + turn_idx]
    gaps[starts] = 0.0
    gap_us = (gaps * 1e6).astype(np.int64)
    cum = np.cumsum(gap_us)
    offset = cum - np.repeat(cum[starts], lengths)
    ts_us = BASE_US + np.repeat(conv_start, lengths) + offset

    role = ROLES[rng.integers(0, 4, n_turns)]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, 3, n_turns)], None)
    n_tok = rng.integers(1, 40, n_turns)
    return pd.DataFrame(
        {
            "conv_id": np.char.add("c", np.char.zfill(conv.astype(str), 6)).astype(object),
            "turn_idx": turn_idx.astype(np.int32),
            "role": role,
            "text": TEXTS[n_tok],
            "tool": tool,
            "ts": pd.to_datetime(ts_us, unit="us", utc=True),
            "ts_us": ts_us,
            "signal": n_tok.astype(np.float64),
        }
    )


def write_transcripts(df: pd.DataFrame, path: str) -> None:
    _write(df[[f.name for f in TRANSCRIPT_SCHEMA]], path, TRANSCRIPT_SCHEMA)


def probes(seed: int, turns: pd.DataFrame, per_conv: int) -> pd.DataFrame:
    """``asof_join`` probe table: ``per_conv`` probe times per
    conversation, uniform over its span widened by an hour each side (so
    some probes precede the first turn and match nothing)."""
    rng = np.random.default_rng(seed + 1)
    g = turns.groupby("conv_id", sort=True)["ts_us"]
    lo = g.min().to_numpy() - 3_600_000_000
    hi = g.max().to_numpy() + 3_600_000_000
    conv_ids = np.repeat(g.min().index.to_numpy(), per_conv)
    t = np.repeat(lo, per_conv) + (
        rng.random(conv_ids.size) * np.repeat(hi - lo, per_conv)
    ).astype(np.int64)
    return pd.DataFrame(
        {"conv_id": conv_ids, "as_of": pd.to_datetime(t, unit="us", utc=True), "as_of_us": t}
    )


PROBE_SCHEMA = pa.schema([("conv_id", pa.string()), ("as_of", pa.timestamp("us", tz="UTC"))])


def write_probes(df: pd.DataFrame, path: str) -> None:
    _write(df[["conv_id", "as_of"]], path, PROBE_SCHEMA)


# language marker words (the engine's rule-based lang-id keys on these)
MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "que", "de", "es"],
}
LANGS = sorted(MARKERS)


def documents(seed: int, n_docs: int, n_clusters: int, words: int = 60):
    """Documents with planted near-duplicate clusters.

    ``n_clusters`` clusters of 2-5 members each: a base document plus
    variants that are either an exact copy up to case and spacing, or the
    base with one word replaced. Every other document is unique random
    text over a 20k-word vocabulary, so unplanted pairs share no
    3-shingle in practice. Returns (docs frame, planted cluster index per
    doc, -1 when unplanted)."""
    rng = np.random.default_rng(seed + 2)
    vocab = np.array([f"w{i}" for i in range(20_000)], dtype=object)
    sizes = rng.integers(2, 6, n_clusters)
    n_planted = int(sizes.sum())
    n_base = n_docs - n_planted + n_clusters
    tok = rng.integers(0, vocab.size, (n_base, words))
    # sprinkle one language's marker words over each base document
    lang = rng.integers(0, len(LANGS), n_base)
    markers = np.array([MARKERS[l] for l in LANGS], dtype=object)
    n_mark = rng.integers(0, 6, n_base)
    base_words = vocab[tok]
    for j in range(5):
        rows = np.nonzero(n_mark > j)[0]
        base_words[rows, rng.integers(0, words, rows.size)] = markers[lang[rows], j]

    # members: base (kind 0), exact-up-to-case/space copy (1), one-word edit (2)
    src = np.concatenate([np.arange(n_base), np.repeat(np.arange(n_clusters), sizes - 1)])
    cluster = np.concatenate([np.arange(n_clusters), np.full(n_base - n_clusters, -1),
                              np.repeat(np.arange(n_clusters), sizes - 1)])
    n_var = src.size - n_base
    kind = np.concatenate([np.zeros(n_base, np.int8),
                           np.where(rng.random(n_var) < 0.3, 1, 2).astype(np.int8)])
    doc_words = base_words[src].copy()
    edit = np.nonzero(kind == 2)[0]
    doc_words[edit, rng.integers(0, words, edit.size)] = vocab[rng.integers(0, vocab.size, edit.size)]
    text = np.array([" ".join(r) for r in doc_words], dtype=object)
    copy = kind == 1
    text[copy] = np.array(["  ".join(t.upper().split(" ")) for t in text[copy]], dtype=object)

    order = rng.permutation(src.size)
    docs = pd.DataFrame({"doc_id": np.arange(src.size, dtype=np.int64), "text": text[order]})
    return docs, cluster[order]


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def write_documents(df: pd.DataFrame, path: str) -> None:
    _write(df, path, DOC_SCHEMA)
