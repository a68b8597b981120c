"""Seeded benchmark inputs, written before any timing starts.

    python3 perfbench/corpora.py <workload> <seed> <n_clips> <n_files> <out_dir>

Writes ``<out_dir>/clips`` (parquet, ``n_files`` files, the engine's clips
schema), ``<out_dir>/warm`` (a small fixed-shape slice for the set-up
warm-up), ``<out_dir>/oracle.parquet`` (expected keep labels from
``oracle.policy.label_frame`` over the whole input) and
``<out_dir>/stats.json``; ``_SUCCESS`` is written last, so a reader that
finds it finds a complete input.

The generator uses no Spark: every row comes from the package's public
helpers (``datagen.corpus.sentence`` + ``functions.audio.encode_wav_pcm16``
for the workload corpora, ``datagen.clips.clips_pdf`` for the warm slice),
so the timed process never shares a JVM with input generation.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataquality_spark.datagen import corpus  # noqa: E402
from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_pdf  # noqa: E402
from dataquality_spark.functions.audio import encode_wav_pcm16  # noqa: E402

SR = 16000
FAMILY = 96  # dedup_dense: near-duplicate members per family
WARM_CLIPS = 200  # set-up warm-up slice of the standard planted corpus
VERSION = 1  # part of every input's directory name; bump when rows change

SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
    ("ingest_ts", pa.timestamp("us", tz="UTC")),
])

# enrich_long vocabulary: the plain English list (half the draws) plus
# two-word compounds of it. Compounds keep every character trigram English
# (so langid and the char-LM score the text as English) while making two
# unrelated transcripts share few tokens: with the 200-word list alone, two
# random 100-token transcripts have set-Jaccard ~0.2, enough random LSH
# band collisions to move the dedup funnel off its floor.
_COMPOUNDS = [a + b for a in corpus.EN_WORDS for b in corpus.EN_WORDS[:50]]
LONG_VOCAB = corpus.EN_WORDS * (len(_COMPOUNDS) // len(corpus.EN_WORDS)) + _COMPOUNDS


@functools.lru_cache(maxsize=1)
def _base_pcm(seed: int) -> np.ndarray:
    """12 s of seeded tone + noise; clips are slices of it, so generating a
    long-audio corpus costs a copy per clip, not a synthesis."""
    n = 12 * SR
    t = np.arange(n, dtype=np.float64) / SR
    rng = np.random.default_rng(seed)
    x = 0.5 * np.sin(2 * np.pi * 220.0 * t) + 0.01 * rng.standard_normal(n)
    return np.round(np.clip(x, -1.0, 1.0) * 32767.0).astype(np.int16)


def _pcm(seed: int, i: int, n: int) -> np.ndarray:
    off = corpus.rand_ints(seed, 100_000_000 + i, 1)[0] % (6 * SR)
    return _base_pcm(seed)[off:off + n]


def _row(i: int, transcript: str, dur_ms: int, seed: int, run_ts) -> dict:
    return {
        "clip_id": f"clip_{i:012d}",
        "bytes": encode_wav_pcm16(_pcm(seed, i, SR * dur_ms // 1000), SR),
        "sr_hz": SR,
        "dur_ms": dur_ms,
        "codec": "pcm_s16le",
        "transcript": transcript,
        "ingest_ts": run_ts - dt.timedelta(days=i % 20),
    }


def enrich_long_rows(seed: int, lo: int, hi: int) -> pd.DataFrame:
    """Unique English transcripts of 40-120 tokens over 3-6 s of audio."""
    rows = []
    for i in range(lo, hi):
        u = corpus.rand_ints(seed, 110_000_000 + i, 1)[0]
        text = corpus.sentence(seed, 70_000_000 + i, 40 + u % 81, LONG_VOCAB)
        rows.append(_row(i, text, 3000 + (u >> 8) % 3001, seed, DEFAULT_RUN_TS))
    return pd.DataFrame(rows)


def dedup_dense_rows(seed: int, lo: int, hi: int) -> pd.DataFrame:
    """Families of FAMILY near-duplicate 30-token transcripts, each member
    0-7 single-token edits away from its family's base, over 250 ms audio."""
    rows = []
    for i in range(lo, hi):
        fam = i // FAMILY
        toks = corpus.sentence(seed, 80_000_000 + fam, 30).split(" ")
        r = corpus.rand_ints(seed, 90_000_000 + i, 8)
        for e in r[1:1 + r[0] % 8]:
            toks[e % len(toks)] = corpus.EN_WORDS[(e >> 16) % len(corpus.EN_WORDS)] + "x"
        rows.append(_row(i, " ".join(toks), 250, seed, DEFAULT_RUN_TS))
    return pd.DataFrame(rows)


ROWS = {"enrich_long": enrich_long_rows, "dedup_dense": dedup_dense_rows}


def tie_clips(pdf: pd.DataFrame, oracle_dup: list[bool]) -> set[str]:
    """Clips whose oracle dup label is an artefact of float32 rounding.

    ``oracle.policy`` takes BoW cosines from one float32 matrix product,
    whose summation order can put an exact tie (cos == DUP_COS_MIN, common
    between 30-token transcripts one edit apart) below the threshold. A
    clip counts when the oracle's dup rule, re-evaluated with float64
    cosines, labels it otherwise and one of its pairs straddles the
    threshold between float32 and float64. The output check leaves these
    clips out; their number is reported with the corpus stats."""
    from dataquality_spark.functions.langid import get_model
    from dataquality_spark.functions.minhash import bow_vector
    from dataquality_spark.functions.texthash import tokenize
    from dataquality_spark.operators.dedup import DUP_COS_MIN, DUP_GATE_MIN, LANG_UNKNOWN

    texts = pdf["transcript"].fillna("").tolist()
    toks = [set(tokenize(t)) for t in texts]
    bows = np.stack([bow_vector(tokenize(t)) for t in texts])
    c64 = bows.astype(np.float64) @ bows.T.astype(np.float64)
    straddle = ((bows @ bows.T >= DUP_COS_MIN) != (c64 >= DUP_COS_MIN)).any(axis=1)
    langs, _ = get_model().predict_batch(texts)
    exact = np.zeros(len(texts), dtype=bool)
    for a, b in zip(*np.nonzero(np.triu(c64 >= DUP_COS_MIN, k=1))):
        if langs[a] != langs[b] or langs[a] == LANG_UNKNOWN or not toks[a] | toks[b]:
            continue
        if 0.5 + 0.5 * len(toks[a] & toks[b]) / len(toks[a] | toks[b]) >= DUP_GATE_MIN:
            exact[a] = exact[b] = True
    ids = pdf["clip_id"].tolist()
    return {ids[i] for i in np.nonzero(straddle & (exact != np.asarray(oracle_dup)))[0]}


def _write(pdf: pd.DataFrame, path: str) -> int:
    # naive timestamps are UTC instants, as the engine's session reads them
    pdf = pdf.assign(ingest_ts=pd.to_datetime(pdf["ingest_ts"]).dt.tz_localize("UTC"))
    table = pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False)
    pq.write_table(table, path)
    return os.path.getsize(path)


def prepare(workload: str, seed: int, n: int, n_files: int, out: str) -> dict:
    from dataquality_spark.oracle.policy import label_frame

    gen = ROWS[workload]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "clips"))
    os.makedirs(os.path.join(tmp, "warm"))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    parts = [gen(seed, int(bounds[f]), int(bounds[f + 1])) for f in range(n_files)]
    nbytes = sum(_write(part, os.path.join(tmp, "clips", f"part-{f:05d}.parquet"))
                 for f, part in enumerate(parts))
    pdf = pd.concat(parts, ignore_index=True)
    n_error = int(((pdf["sr_hz"] != SR) | (pdf["codec"] != "pcm_s16le")).sum())
    # The warm-up slice has the same shape for every workload and seed, so
    # the set-up time it adds does not depend on the workload being run.
    _write(clips_pdf(WARM_CLIPS), os.path.join(tmp, "warm", "part-0.parquet"))

    # The O(n^2) oracle fits at these sizes, so it labels the whole input.
    labels = label_frame(pdf, DEFAULT_RUN_TS)
    ties = tie_clips(pdf, labels["is_dup"].tolist())
    labels["tie"] = labels["clip_id"].isin(ties)
    labels[["clip_id", "keep", "is_dup", "tie"]].to_parquet(
        os.path.join(tmp, "oracle.parquet"))

    stats = {
        "workload": workload, "seed": seed, "clips": n, "files": n_files,
        "input_bytes": nbytes,
        "families": n // FAMILY if workload == "dedup_dense" else 0,
        "planted_error_rows": n_error,
        "oracle_keep": int(labels["keep"].sum()),
        "oracle_dup": int(labels["is_dup"].sum()),
        "oracle_tie_clips": len(ties),
    }
    with open(os.path.join(tmp, "stats.json"), "w") as fh:
        json.dump(stats, fh)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return stats


if __name__ == "__main__":
    w, s, n, nf, o = sys.argv[1:6]
    print(json.dumps(prepare(w, int(s), int(n), int(nf), o)))
