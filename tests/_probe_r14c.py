"""Ad-hoc round-14 probe: the shared-tokenize question for the fuzzy-dedup
family (VERDICT r13 task 4; not a pytest module).

x2's ×1000 cell attributed 92% of its CPU to the per-doc signature map
(tokenize + 16 band-mins). This probe decomposes the family's map stages
at ×100 (500k docs) to decide what is shareable WITHOUT materializing a
corpus-text-sized frame:

  A. scan+tokenize only   — sum(size(words(text))): the shared front half
  B. simhash16 pass       — x10's old inline map (tokenize+sha+16-fold)
  C. simhash32 pass       — x101's signature map (tokenize+sha+32-fold)
  D. fused sig32 pass     — ONE pass, both signatures (sig16=sig32>>16):
                            the round-14 `_simhash_sigs` frame's build
  E. minhash band pass    — x2's front half (`_minhash_bands` build):
                            tokenize + distinct-shingle sha + 16 band-mins
  F. winnow fp pass       — x102's front half: all-gram sha + window-mins

Decision arithmetic: D vs B+C is the shipped x10/x101 saving. A vs E / A
vs F bounds what sharing ONLY the tokenize could save x2/x102 — their sha
inputs differ (distinct shingles vs all grams vs tokens), so anything
beyond the tokenize requires a corpus-sized per-doc hash-array frame,
which the task's constraint forbids.

Usage: python tests/_probe_r14c.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import _probe_r12 as r12
import _probe_r13b as r13b
from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.operators.llm import (
    hash60,
    simhash16,
    simhash32,
    words,
    word_grams,
    word_shingles,
)
from scylladb_redpanda_cdc_spark.plans.llm_queries import (
    X102_WINNOW_W,
    _fanned,
    minhash_remix,
)
from scylladb_redpanda_cdc_spark.plans import clear_session_frame_caches


def timed(label, df):
    # warm second run, like every decade probe
    df.write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"  {label:44s} {dt:7.2f}s", flush=True)
    return dt


def main():
    r13b.build_x100()
    spark = r12._session()
    spark.sparkContext.setLogLevel("ERROR")
    sf = r13b.X100_DIR
    d = _fanned(spark, sf, "documents", "doc_id")
    ws = words(F.col("text"))

    a = timed("A scan+tokenize (sum of token counts)", d.select(F.size(ws).alias("n")).groupBy().sum("n"))
    b = timed("B simhash16 inline (old x10 map)", d.select("doc_id", simhash16(ws).alias("s")))
    c = timed("C simhash32 inline (x101 map)", d.select("doc_id", simhash32(ws).alias("s")))
    dd = timed(
        "D fused sig32 (shipped _simhash_sigs map)",
        d.select("doc_id", simhash32(ws).alias("sig32")).select(
            "doc_id", "sig32", F.shiftright("sig32", 16).alias("sig16")
        ),
    )
    sh = d.select("doc_id", ws.alias("_ws")).select(
        "doc_id", F.explode(word_shingles(F.col("_ws"))).alias("s")
    ).select("doc_id", hash60(F.col("s")).alias("h"))
    e = timed(
        "E minhash 16-band pass (x2 front half)",
        sh.groupBy("doc_id").agg(
            *[F.min(minhash_remix(F.col("h"), bd)).alias(f"sig_{bd}") for bd in range(16)]
        ),
    )
    hs = F.col("_hs")
    n = F.size(hs)
    w = X102_WINNOW_W
    zipped = F.arrays_zip(*[F.slice(hs, j + 1, n - w + 1) for j in range(w)])
    wins = F.transform(zipped, lambda t: F.least(*[t[str(j)] for j in range(w)]))
    fps = F.when(n >= w, F.array_distinct(wins)).otherwise(
        F.when(n > 0, F.array(F.array_min(hs))).otherwise(
            F.array().cast("array<bigint>")
        )
    )
    f = timed(
        "F winnow fp pass (x102 front half)",
        d.select("doc_id", F.transform(word_grams(ws, 3), hash60).alias("_hs"))
        .select("doc_id", F.explode(fps).alias("fp")),
    )
    print(f"\n  B+C = {b + c:.2f}s vs D = {dd:.2f}s  (pair saving {100 * (1 - dd / (b + c)):.0f}%)")
    print(f"  tokenize share: A/E = {100 * a / e:.0f}%  A/F = {100 * a / f:.0f}%  A/C = {100 * a / c:.0f}%")
    clear_session_frame_caches()
    spark.stop()


if __name__ == "__main__":
    main()
