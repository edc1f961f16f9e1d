"""Semantic invariants of the training-pipeline operators (X23-X29) that
the value oracles imply but are worth pinning directly — these are the
properties downstream consumers (trainers) actually rely on."""

from __future__ import annotations

import pandas as pd
import pytest

from scylladb_redpanda_cdc_spark.plans import registry


@pytest.fixture(scope="module")
def specs():
    return registry()


def test_packing_addresses_are_dense_and_bounded(spark, sf_dir, specs):
    """x24: within every shard, doc token_starts are the exact running sum
    of preceding doc lengths (no gaps, no overlaps), offsets stay inside
    the 2048-token window, and seq_id is consistent with the address."""
    pdf = (
        specs["x24_seq_packing"]
        .build(spark, sf_dir)
        .toPandas()
        .sort_values(["shard", "doc_id"])
    )
    assert (pdf["token_offset"] < 2048).all()
    assert (pdf["token_offset"] == pdf["token_start"] % 2048).all()
    assert (pdf["seq_id"] == pdf["token_start"] // 2048).all()
    for _, g in pdf.groupby("shard"):
        expected_start = 0
        for _, row in g.iterrows():
            assert row["token_start"] == expected_start
            expected_start += row["n_tokens"]


def test_split_and_mixture_agree_on_buckets(spark, sf_dir, specs):
    """x23/x27 both derive the bucket from the same content hash, so a
    doc's bucket must be identical in both outputs — the property that
    lets mixture sampling compose with the train/test split."""
    split = specs["x23_split_train_test"].build(spark, sf_dir).toPandas()
    mix = specs["x27_domain_mixture"].build(spark, sf_dir).toPandas()
    merged = split.merge(mix, on="doc_id", suffixes=("_s", "_m"))
    assert len(merged) == len(mix)  # every kept doc exists in the split
    assert (merged["bucket_s"] == merged["bucket_m"]).all()


def test_split_fractions_are_sane(spark, sf_dir, specs):
    """x23: bucket arithmetic must land every doc in exactly one split and
    the split sizes must be plausible for 80/10/10 (loose envelope — the
    hash is content-derived, not uniform by construction)."""
    pdf = specs["x23_split_train_test"].build(spark, sf_dir).toPandas()
    assert set(pdf["split"]) <= {"train", "validation", "test"}
    frac_train = (pdf["split"] == "train").mean()
    assert 0.6 <= frac_train <= 0.95


def test_decontaminate_sides_are_disjoint(spark, sf_dir, specs):
    """x26: eval docs never appear on the corpus side and vice versa."""
    pdf = specs["x26_decontaminate"].build(spark, sf_dir).toPandas()
    if len(pdf):
        assert (pdf["eval_doc_id"] % 97 == 0).all()
        assert (pdf["doc_id"] % 97 != 0).all()
        assert (pdf["n_shared_4grams"] >= 1).all()


def test_kmeans_assignment_is_nearest(spark, sf_dir, specs):
    """x29: spot-check that each vector's reported cosine is at least the
    cosine to every other final centroid (assignment really is argmax)."""
    out = specs["x29_kmeans_refine"].build(spark, sf_dir).toPandas()
    # cluster ids must come from the seeded id space and cover >1 cluster
    assert (out["cluster_id"] % 25 == 0).all()
    assert out["cluster_id"].nunique() > 1
    assert ((out["cos_sim"] <= 1.000001) & (out["cos_sim"] >= -1.000001)).all()


def test_canonical_select_keeps_exactly_best_per_cluster(spark, sf_dir, specs):
    """x30: every cluster keeps exactly one doc, the kept doc's quality is
    the cluster max, docs covered = all documents, and the kept set is
    consistent with x21's cluster assignment."""
    pdf = specs["x30_canonical_select"].build(spark, sf_dir).toPandas()
    clusters = specs["x21_dedup_cluster_cc"].build(spark, sf_dir).toPandas()
    assert len(pdf) == len(clusters)
    per_cluster = pdf.groupby("cluster_id")
    assert (per_cluster["keep"].sum() == 1).all()
    kept = pdf[pdf["keep"]].set_index("cluster_id")["quality_score"]
    assert (per_cluster["quality_score"].max() == kept).all()


def test_dup_rate_partitions_the_corpus(spark, sf_dir, specs):
    """x31: per-source rows partition the corpus (counts sum to |documents|),
    distinct <= docs, and the ppm rate is the exact integer quotient."""
    pdf = specs["x31_dup_rate_by_source"].build(spark, sf_dir).toPandas()
    docs = specs["x1_dedup_exact"].build(spark, sf_dir).toPandas()
    assert pdf["n_docs"].sum() == docs["n_copies"].sum()
    assert (pdf["n_distinct"] <= pdf["n_docs"]).all()
    assert (pdf["n_dups"] == pdf["n_docs"] - pdf["n_distinct"]).all()
    expect = (1_000_000 * pdf["n_dups"]) // pdf["n_docs"]
    assert (pdf["dup_rate_ppm"] == expect).all()


def test_knn_join_shape_and_ranks(spark, sf_dir, specs):
    """x32: every query gets exactly 5 neighbors ranked 1..5 with
    non-increasing cosine, and a query never matches itself."""
    pdf = specs["x32_knn_join"].build(spark, sf_dir).toPandas()
    assert (pdf["qid"] != pdf["vec_id"]).all()
    for qid, g in pdf.groupby("qid"):
        g = g.sort_values("knn_rank")
        assert list(g["knn_rank"]) == [1, 2, 3, 4, 5]
        assert (g["cos_sim"].diff().dropna() <= 1e-12).all()


def test_span_dedup_flags_only_cross_doc_repeats(spark, sf_dir, specs):
    """x33: every flagged span occurs in >= 2 distinct docs (that's the
    definition), span indexes are dense non-negatives bounded by the doc's
    token count / 8, and identical span_hash rows agree on n_docs."""
    pdf = specs["x33_span_dedup"].build(spark, sf_dir).toPandas()
    assert (pdf["n_docs"] >= 2).all()
    assert (pdf["span_idx"] >= 0).all()
    per_hash = pdf.groupby("span_hash").agg(
        docs=("doc_id", "nunique"), n=("n_docs", "nunique"), claimed=("n_docs", "first")
    )
    assert (per_hash["n"] == 1).all()  # n_docs consistent per span
    assert (per_hash["docs"] == per_hash["claimed"]).all()


def test_vocab_coverage_is_a_monotone_cdf(spark, sf_dir, specs):
    """x34: ranks are 1..V with strictly decreasing-or-tie-broken counts,
    coverage is monotone non-decreasing in rank, and the last token's
    coverage is exactly 1_000_000 ppm (cum == total)."""
    pdf = (
        specs["x34_vocab_coverage"]
        .build(spark, sf_dir)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert list(pdf["rank"]) == list(range(1, len(pdf) + 1))
    assert (pdf["n"].diff().dropna() <= 0).all()  # counts non-increasing
    assert (pdf["coverage_ppm"].diff().dropna() >= 0).all()
    assert pdf["coverage_ppm"].iloc[-1] == 1_000_000


def test_rollup_day_equals_sum_of_hours(spark, sf_dir, specs):
    """b35: the day level must be EXACTLY the re-aggregation of its hour
    partials — the invariant that makes serving coarse queries from the
    continuous aggregate sound."""
    pdf = specs["b35_time_bucket_rollup"].build(spark, sf_dir).toPandas()
    hours = pdf[pdf["granularity"] == "hour"].copy()
    days = pdf[pdf["granularity"] == "day"]
    hours["day_ms"] = hours["bucket_ms"] - (hours["bucket_ms"] % 86_400_000)
    rolled = (
        hours.groupby(["event_type", "day_ms"], as_index=False)
        .agg(n_events=("n_events", "sum"), value_micros_sum=("value_micros_sum", "sum"))
        .rename(columns={"day_ms": "bucket_ms"})
    )
    merged = days.drop(columns=["granularity"]).merge(
        rolled, on=["event_type", "bucket_ms"], suffixes=("_d", "_h")
    )
    assert len(merged) == len(days) == len(rolled)
    assert (merged["n_events_d"] == merged["n_events_h"]).all()
    assert (merged["value_micros_sum_d"] == merged["value_micros_sum_h"]).all()


def test_tokens_to_ids_roundtrips_the_token_stream(spark, sf_dir, specs):
    """x35: decoding every doc's id sequence through the x34 vocabulary
    must reproduce the document's token stream exactly, in order — the
    property that makes the encoding lossless for training."""
    from scylladb_redpanda_cdc_spark.operators.llm import words
    from pyspark.sql import functions as F

    enc = specs["x35_tokens_to_ids"].build(spark, sf_dir).toPandas()
    vocab = (
        specs["x34_vocab_coverage"].build(spark, sf_dir).toPandas()
        .set_index("rank")["token"]
    )
    docs = (
        specs["x1_dedup_exact"].build.__globals__["_T"](spark, sf_dir, "documents")
        .select("doc_id", F.concat_ws(" ", words(F.col("text"))).alias("joined"))
        .toPandas()
        .set_index("doc_id")["joined"]
    )
    for _, row in enc.sample(n=min(50, len(enc)), random_state=7).iterrows():
        ids = [int(t) for t in row["token_ids"].split()] if row["token_ids"] else []
        assert len(ids) == row["n_tokens"]
        decoded = " ".join(vocab.loc[i] for i in ids)
        assert decoded == docs.loc[row["doc_id"]]


def test_pii_redaction_counts_match_the_salting(spark, sf_dir, specs):
    """x37: the fixture corpus is digit-free, so the salted PII is the ONLY
    PII — counts must equal the salting rule exactly (one email iff
    doc_id%3==0, one phone iff %5==0, one id iff %7==0), which pins both
    the patterns and the non-overlap of the three regex classes."""
    pdf = specs["x37_pii_redact"].build(spark, sf_dir).toPandas()
    assert (pdf["n_emails"] == (pdf["doc_id"] % 3 == 0).astype(int)).all()
    assert (pdf["n_phones"] == (pdf["doc_id"] % 5 == 0).astype(int)).all()
    assert (pdf["n_ids"] == (pdf["doc_id"] % 7 == 0).astype(int)).all()


def test_doc_chunks_tile_with_fixed_stride(spark, sf_dir, specs):
    """x38: chunk indexes are dense 0..k-1 per doc, starts advance by
    exactly the stride, every chunk is non-empty and bounded by the window,
    and every chunk except the last is full — the geometry a RAG indexer
    relies on."""
    pdf = (
        specs["x38_doc_chunk"]
        .build(spark, sf_dir)
        .toPandas()
        .sort_values(["doc_id", "chunk_idx"])
    )
    assert ((pdf["n_chunk_tokens"] >= 1) & (pdf["n_chunk_tokens"] <= 64)).all()
    assert (pdf["token_start"] == pdf["chunk_idx"] * 48).all()
    for _, g in pdf.groupby("doc_id"):
        assert list(g["chunk_idx"]) == list(range(len(g)))
        assert (g["n_chunk_tokens"].iloc[:-1] == 64).all()


def test_containment_is_total_for_exact_duplicates(spark, specs, tmp_path):
    """x39: the driver invariant — an exact duplicate pair scores
    containment 1.0 in BOTH directions. The fixtures carry no >= 8-token
    exact dups, so build a tiny corpus (two dup pairs + distinct docs +
    a half-quote) in a tmp dir; the builder only reads
    ``<sf_dir>/documents.parquet``."""
    import pandas as pd

    base = "alpha bravo charlie delta echo foxtrot golf hotel "
    other = "india juliett kilo lima mike november oscar papa "
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": [
                base * 4,          # 0 and 1: exact duplicates (32 tokens)
                base * 4,
                other * 4,         # 2 and 3: second dup pair
                other * 4,
                base * 2 + other * 2,  # 4: half of 0, half of 2
                "tiny text",       # 5: under one span, emits nothing
            ],
            "lang": ["en"] * 6,
            "source": ["src0"] * 6,
        }
    )
    docs["n_chars"] = docs["text"].str.len()
    docs.to_parquet(tmp_path / "documents.parquet")
    pdf = specs["x39_dedup_containment"].build(spark, str(tmp_path)).toPandas()
    pairs = {
        (r.doc_a, r.doc_b): r.containment for r in pdf.itertuples()
    }
    for a, b in [(0, 1), (1, 0), (2, 3), (3, 2)]:
        assert pairs[(a, b)] == 1.0
    # the half-quote contains half of each source doc, both directions 0.5
    assert pairs[(4, 0)] == 0.5 and pairs[(4, 2)] == 0.5
    assert (pdf["containment"] <= 1.0).all()
    assert (pdf["n_shared_spans"] <= pdf["n_spans_a"]).all()
    assert 5 not in set(pdf["doc_a"]) | set(pdf["doc_b"])


def test_incremental_dedup_partitions_the_shard(spark, sf_dir, specs):
    """x36: every shard doc (doc_id % 10 == 9) is classified exactly once;
    'keep' docs are their own canonical; canonicals never point at a later
    doc; and a 'dup_of_corpus' canonical lives OUTSIDE the shard."""
    pdf = specs["x36_incremental_dedup"].build(spark, sf_dir).toPandas()
    assert (pdf["doc_id"] % 10 == 9).all()
    assert pdf["doc_id"].is_unique
    keep = pdf[pdf["status"] == "keep"]
    assert (keep["canonical_id"] == keep["doc_id"]).all()
    dupc = pdf[pdf["status"] == "dup_of_corpus"]
    assert (dupc["canonical_id"] % 10 != 9).all()
    dupb = pdf[pdf["status"] == "dup_in_batch"]
    assert (dupb["canonical_id"] < dupb["doc_id"]).all()


def test_ngram_topk_shape_and_order(spark, sf_dir, specs):
    """x40: every gram is exactly 5 tokens, counts are positive and the
    result is the top of the histogram (non-increasing when sorted the
    query's way, with the lexicographic tiebreak making the cut stable)."""
    pdf = specs["x40_ngram_topk"].build(spark, sf_dir).toPandas()
    assert len(pdf) <= 100
    assert (pdf["gram"].str.split(" ").str.len() == 5).all()
    assert (pdf["n"] >= 1).all()
    ordered = pdf.sort_values(["n", "gram"], ascending=[False, True])
    assert ordered["n"].is_monotonic_decreasing


def test_bpe_pairs_are_two_chars(spark, sf_dir, specs):
    """x41: every pair is exactly two symbols from the token alphabet."""
    pdf = specs["x41_bpe_pair_counts"].build(spark, sf_dir).toPandas()
    assert len(pdf) <= 50
    assert (pdf["pair"].str.len() == 2).all()
    assert pdf["pair"].str.fullmatch("[a-z0-9]{2}").all()
    assert (pdf["n"] >= 1).all()


def test_text_diversity_bounds_and_identities(spark, sf_dir, specs):
    """x42: TTR and collision probability live in (0, 1]; TTR is exactly
    n_distinct/n_tokens; collision is bounded below by the uniform case
    1/n_distinct and above by 1."""
    pdf = specs["x42_text_diversity"].build(spark, sf_dir).toPandas()
    assert (pdf["n_tokens"] >= 1).all()
    assert (pdf["n_distinct"] <= pdf["n_tokens"]).all()
    assert (pdf["ttr"] == pdf["n_distinct"] / pdf["n_tokens"]).all()
    assert (pdf["collision_prob"] > 0).all()
    assert (pdf["collision_prob"] <= 1.0).all()
    assert (
        pdf["collision_prob"] >= 1.0 / pdf["n_distinct"] - 1e-12
    ).all()


def test_bm25_hits_contain_a_query_term(spark, sf_dir, specs):
    """x43: every returned doc matched at least one query term, tf never
    exceeds doc length, and scores are positive and ranked."""
    pdf = specs["x43_bm25_rank"].build(spark, sf_dir).toPandas()
    assert len(pdf) <= 20
    tf_cols = [c for c in pdf.columns if c.startswith("tf_")]
    assert (pdf[tf_cols].sum(axis=1) >= 1).all()
    assert (pdf[tf_cols].sum(axis=1) <= pdf["dl"]).all()
    assert (pdf["bm25"] > 0).all()
    assert pdf.sort_values(["bm25", "doc_id"], ascending=[False, True])[
        "bm25"
    ].is_monotonic_decreasing


def test_lang_mix_weights_normalize_and_boost_small(spark, sf_dir, specs):
    """x44: weights sum to 1 (micro-flooring loses < 1e-9 mass per lang)
    and the boost is monotone DECREASING in language size — the whole
    point of temperature upsampling."""
    pdf = specs["x44_lang_temperature_mix"].build(spark, sf_dir).toPandas()
    assert abs(pdf["weight"].sum() - 1.0) < 1e-6
    bysize = pdf.sort_values("n_docs")
    assert bysize["boost"].is_monotonic_decreasing or (
        bysize["n_docs"].nunique() < len(bysize)
    )


def test_ann_recall_is_a_valid_ratio(spark, sf_dir, specs):
    """x45: one row per probe (the fixed-K smallest-hash draw),
    0 <= recalled <= k <= 5, and the ratio is exactly n_recalled/k."""
    from scylladb_redpanda_cdc_spark.plans.llm_queries import X_PROBE_K

    pdf = specs["x45_ann_recall_eval"].build(spark, sf_dir).toPandas()
    assert len(pdf) <= X_PROBE_K
    assert pdf["qid"].is_unique
    assert (pdf["k"] <= 5).all() and (pdf["k"] >= 1).all()
    assert (pdf["n_recalled"] <= pdf["k"]).all()
    assert (pdf["recall_at_k"] == pdf["n_recalled"] / pdf["k"]).all()


def test_range_window_includes_self(spark, sf_dir, specs):
    """b37: the frame always contains the current row, so the trailing
    count is >= 1 everywhere and == 1 for a user's first event."""
    pdf = specs["b37_time_range_window"].build(spark, sf_dir).toPandas()
    assert (pdf["n_trailing_5min"] >= 1).all()
    # ts-peers share the frame (RANGE semantics), so assert ==1 only for
    # users whose earliest timestamp is unique
    firsts = pdf.sort_values("ts_us").groupby("user_id").head(2)
    for _, g in firsts.groupby("user_id"):
        g = g.sort_values("ts_us")
        if len(g) == 1 or g["ts_us"].iloc[0] != g["ts_us"].iloc[1]:
            assert g["n_trailing_5min"].iloc[0] == 1


def test_schema_evolution_versions_partition_the_cells(spark, sf_dir, specs):
    """a17: v1 records can never touch the post-ALTER column; v2 records
    always carry the Cell (touched), including the explicit-NULL case."""
    pdf = specs["a17_schema_evolution"].build(spark, sf_dir).toPandas()
    v1 = pdf[pdf["schema_version"] == 1]
    v2 = pdf[pdf["schema_version"] == 2]
    assert len(v1) == 7 and len(v2) == 3
    assert (~v1["discount_touched"]).all()
    explicit_null = v2[(v2["discount_touched"]) & (v2["discount"].isna())]
    assert len(explicit_null) == 1
    untouched_v2 = v2[~v2["discount_touched"]]
    assert len(untouched_v2) == 1


def test_minhash_estimate_error_is_consistent(spark, sf_dir, specs):
    """x46: the estimate is n_shared_bands/16 (so >= 0.25 at the >= 4-band
    candidate threshold), exact Jaccard is a valid ratio, and abs_err is
    literally |est - exact|."""
    pdf = specs["x46_dedup_est_quality"].build(spark, sf_dir).toPandas()
    assert (pdf["n_shared_bands"] >= 4).all()
    assert (pdf["est_jaccard"] == pdf["n_shared_bands"] / 16.0).all()
    assert ((pdf["exact_jaccard"] >= 0) & (pdf["exact_jaccard"] <= 1)).all()
    assert (
        pdf["abs_err"] == (pdf["est_jaccard"] - pdf["exact_jaccard"]).abs()
    ).all()


def test_contamination_score_agrees_with_flags(spark, sf_dir, specs):
    """x47: fractions are valid ratios over corpus docs only, and every
    doc x26 flags has n_contaminated >= 1 in x47 (the graded form can
    never contradict the flag form)."""
    pdf = specs["x47_contamination_score"].build(spark, sf_dir).toPandas()
    assert (pdf["doc_id"] % 97 != 0).all()
    assert (pdf["n_contaminated"] <= pdf["n_shingles"]).all()
    assert (
        (pdf["contamination_frac"] >= 0) & (pdf["contamination_frac"] <= 1)
    ).all()
    flagged = set(
        specs["x26_decontaminate"].build(spark, sf_dir).toPandas()["doc_id"]
    )
    scored_pos = set(pdf[pdf["n_contaminated"] >= 1]["doc_id"])
    assert flagged == scored_pos


# --- round-5 additions: analytics, quantized ANN, curation, multimodal ---


def test_funnel_stage_times_are_ordered(spark, sf_dir, specs):
    """b38: stage timestamps are monotone where present, the stage number
    equals 1 + the non-null later stages, and a click/purchase never
    appears without the earlier stage."""
    pdf = specs["b38_funnel_conversion"].build(spark, sf_dir).toPandas()
    assert pdf["t_view"].notna().all()
    c = pdf["t_click"].notna()
    p = pdf["t_purchase"].notna()
    assert (~p | c).all()  # purchase implies click
    assert (pdf.loc[c, "t_click"] >= pdf.loc[c, "t_view"]).all()
    assert (pdf.loc[p, "t_purchase"] >= pdf.loc[p, "t_click"]).all()
    assert (
        pdf["funnel_stage"] == 1 + c.astype(int) + p.astype(int)
    ).all()


def test_cohort_retention_day_zero_is_everyone(spark, sf_dir, specs):
    """b39: every cohort has a day_offset-0 row where the whole cohort is
    active (their first-touch day), offsets are non-negative, and no cell
    exceeds its cohort."""
    pdf = specs["b39_cohort_retention"].build(spark, sf_dir).toPandas()
    assert (pdf["day_offset"] >= 0).all()
    assert (pdf["n_active"] <= pdf["n_cohort"]).all()
    assert (pdf["retention_ppm"] <= 1_000_000).all()
    d0 = pdf[pdf["day_offset"] == 0]
    assert len(d0) == pdf["cohort_day"].nunique()
    assert (d0["n_active"] == d0["n_cohort"]).all()


def test_log_audit_accounting_balances(spark, sf_dir, specs):
    """a19: delivered = expected - missing + redelivered per partition,
    and both planted fault classes are actually observed."""
    pdf = specs["a19_log_integrity_audit"].build(spark, sf_dir).toPandas()
    assert (
        pdf["n_delivered"]
        == pdf["n_expected"] - pdf["n_missing"] + pdf["n_redelivered"]
    ).all()
    assert pdf["n_missing"].sum() > 0
    assert pdf["n_redelivered"].sum() > 0


def test_stream_heavy_hitters_is_sorted_topk(spark, sf_dir, specs):
    """s15: exactly 20 rows, strictly ordered by (n desc, tok asc), all
    counts positive."""
    pdf = specs["s15_stream_heavy_hitters"].build(spark, sf_dir).toPandas()
    assert len(pdf) == 20
    assert (pdf["n"] > 0).all()
    ordered = pdf.sort_values(
        ["n", "tok"], ascending=[False, True]
    ).reset_index(drop=True)
    assert (ordered["tok"] == pdf.reset_index(drop=True)["tok"]).all()


def test_quantize_codes_are_int8_range(spark, sf_dir, specs):
    """x53: every emitted code fits int8's symmetric range and the top-20
    is ordered by (qdot desc, vec_id asc)."""
    pdf = specs["x53_embed_quantize"].build(spark, sf_dir).toPandas()
    assert len(pdf) == 20
    for cs in pdf["codes_str"]:
        codes = [int(c) for c in cs.split(",")]
        assert len(codes) == 64
        assert all(-127 <= c <= 127 for c in codes)
    qd = pdf["qdot"].tolist()
    assert qd == sorted(qd, reverse=True) or (
        pdf.sort_values(["qdot", "vec_id"], ascending=[False, True])[
            "vec_id"
        ].tolist()
        == pdf["vec_id"].tolist()
    )


def test_pq_codes_are_centroid_ids(spark, sf_dir, specs):
    """x54: every PQ code names an actual codebook centroid (vec_id % 25
    == 0), distances are non-negative and ascending."""
    pdf = specs["x54_pq_ann"].build(spark, sf_dir).toPandas()
    assert len(pdf) == 20
    for cs in pdf["codes_str"]:
        codes = [int(c) for c in cs.split(",")]
        assert len(codes) == 8
        assert all(c % 25 == 0 for c in codes)
    assert (pdf["adc_dist"] >= 0).all()
    d = pdf["adc_dist"].tolist()
    assert d == sorted(d)


def test_source_drift_is_a_bounded_l1(spark, sf_dir, specs):
    """x55: L1 distance between two (truncated-ppm) distributions lies in
    [0, 2e6] and every source appears exactly once."""
    pdf = specs["x55_source_drift"].build(spark, sf_dir).toPandas()
    assert pdf["source"].is_unique
    assert (pdf["l1_drift_ppm"] >= 0).all()
    assert (pdf["l1_drift_ppm"] <= 2_000_000).all()


def test_mixture_sample_copies_are_dense_and_capped(spark, sf_dir, specs):
    """x56: per-doc copy indices are exactly 0..n-1 and the epoch cap
    bounds n at 3 (2 full epochs + 1 fractional coin)."""
    pdf = specs["x56_mixture_sample"].build(spark, sf_dir).toPandas()
    for doc_id, g in pdf.groupby("doc_id"):
        idx = sorted(g["copy_idx"])
        assert idx == list(range(len(idx)))
        assert len(idx) <= 3
    # docs of one source share the allocation -> same copy count +-1 (coin)
    per_doc = pdf.groupby(["source", "doc_id"]).size()
    spread = per_doc.groupby("source").agg(["min", "max"])
    assert ((spread["max"] - spread["min"]) <= 1).all()


def test_curation_report_is_monotone(spark, sf_dir, specs):
    """x57: stage doc/token counts never increase along the pipeline."""
    pdf = (
        specs["x57_curation_report"]
        .build(spark, sf_dir)
        .toPandas()
        .sort_values("stage")
        .reset_index(drop=True)
    )
    assert pdf["stage"].tolist() == [
        "00_raw",
        "01_quality",
        "02_repetition",
        "03_exact_dedup",
    ]
    assert pdf["n_docs"].is_monotonic_decreasing
    assert pdf["n_tokens"].is_monotonic_decreasing


def test_resize_fits_the_target_box(spark, sf_dir, specs):
    """x58: output dims are positive, fit the 224 box, and preserve the
    scale relation out_dim == dim * scale_ppm // 1e6 (clipped to >= 1)."""
    pdf = specs["x58_media_resize"].build(spark, sf_dir).toPandas()
    assert (pdf["out_width"] >= 1).all() and (pdf["out_height"] >= 1).all()
    assert (pdf["out_width"] <= 224).all() and (pdf["out_height"] <= 224).all()
    expect_w = (
        (pdf["width"].astype("int64") * pdf["scale_ppm"]) // 1_000_000
    ).clip(lower=1)
    assert (pdf["out_width"] == expect_w).all()


def test_media_features_partition_the_bytes(spark, sf_dir, specs):
    """x59: the 8 histogram buckets partition the blob exactly."""
    pdf = specs["x59_media_features"].build(spark, sf_dir).toPandas()
    total = sum(pdf[f"f{i}"] for i in range(8))
    assert (total == pdf["n_bytes"]).all()


def test_snapshot_diff_respects_the_planted_rules(spark, sf_dir, specs):
    """x60: totals match the deterministic v2 construction — every
    id%7==2 doc is an add, every id%13==3 doc a removal, and changed docs
    are the id%11==5 survivors."""
    pdf = specs["x60_snapshot_diff"].build(spark, sf_dir).toPandas()
    import duckdb

    import os
    con = duckdb.connect()
    doc = f"{sf_dir}/documents.parquet"
    n_add, n_rem, n_chg = con.sql(
        f"""SELECT
          SUM(CAST(doc_id % 7 = 2 AS INT)),
          SUM(CAST(doc_id % 13 = 3 AS INT)),
          SUM(CAST(doc_id % 13 <> 3 AND doc_id % 11 = 5 AS INT))
        FROM read_parquet('{doc}')"""
    ).fetchone()
    assert pdf["n_added"].sum() == n_add
    assert pdf["n_removed"].sum() == n_rem
    assert pdf["n_changed"].sum() == n_chg


def test_boilerplate_strip_is_bounded(spark, sf_dir, specs):
    """x61: removed counts stay within [0, n_tokens], kept+removed=total,
    and at least one doc loses tokens (the top-100 list is non-empty)."""
    pdf = specs["x61_boilerplate_strip"].build(spark, sf_dir).toPandas()
    assert (pdf["n_removed"] >= 0).all()
    assert (pdf["n_removed"] <= pdf["n_tokens"]).all()
    assert (pdf["n_kept"] + pdf["n_removed"] == pdf["n_tokens"]).all()
    assert pdf["n_removed"].sum() > 0


def test_hard_negatives_never_share_the_query_label(spark, sf_dir, specs):
    """x62: a mined negative's label differs from its query's label, and
    each query has exactly 5 ranked negatives."""
    pdf = specs["x62_hard_negatives"].build(spark, sf_dir).toPandas()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    labels = dict(zip(emb["vec_id"], emb["label"]))
    for _, row in pdf.iterrows():
        assert row["neg_label"] == labels[row["vec_id"]]
        assert row["neg_label"] != labels[row["qid"]]
    per_q = pdf.groupby("qid")["neg_rank"].agg(["count", "min", "max"])
    assert (per_q["count"] == 5).all()
    assert (per_q["min"] == 1).all() and (per_q["max"] == 5).all()


def test_class_prototypes_cover_every_label_and_dim(spark, sf_dir, specs):
    """x63: exactly labels x 64 rows, counts match class sizes, and the
    mean is the exact quotient of the pinned integer sum."""
    pdf = specs["x63_class_prototypes"].build(spark, sf_dir).toPandas()
    assert set(pdf["dim"]) == set(range(64))
    n_labels = pdf["label"].nunique()
    assert len(pdf) == n_labels * 64
    assert (
        pdf["mean_micro"] == pdf["sum_micros"] / pdf["n"]
    ).all()


def test_rfm_quartiles_are_balanced(spark, sf_dir, specs):
    """b40: every quartile column uses values 1-4 with near-equal sizes
    (NTILE guarantee) and the code composes the three digits."""
    pdf = specs["b40_rfm_segmentation"].build(spark, sf_dir).toPandas()
    for c in ("r_q", "f_q", "m_q"):
        counts = pdf[c].value_counts()
        assert set(counts.index) == {1, 2, 3, 4}
        assert counts.max() - counts.min() <= 1
    assert (
        pdf["rfm_code"]
        == pdf["r_q"] * 100 + pdf["f_q"] * 10 + pdf["m_q"]
    ).all()


def test_length_histogram_partitions_the_corpus(spark, sf_dir, specs):
    """x64: bucket doc counts sum to the corpus, waste is a valid ppm,
    and tokens+pad is a multiple of the 2048 context."""
    pdf = specs["x64_length_histogram"].build(spark, sf_dir).toPandas()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert pdf["n_docs"].sum() == n_docs
    assert ((pdf["waste_ppm"] >= 0) & (pdf["waste_ppm"] < 1_000_000)).all()
    assert ((pdf["n_tokens"] + pdf["pad_tokens"]) % 2048 == 0).all()


def test_vocab_growth_accumulates_to_the_vocabulary(spark, sf_dir, specs):
    """x65: cumulative vocab is monotone and its final value equals the
    corpus' distinct token count."""
    pdf = (
        specs["x65_vocab_growth"]
        .build(spark, sf_dir)
        .toPandas()
        .sort_values("chunk")
    )
    assert pdf["cum_vocab"].is_monotonic_increasing
    assert pdf["cum_vocab"].iloc[-1] == pdf["n_new_tokens"].sum()


def test_attribution_accounts_for_every_purchase(spark, sf_dir, specs):
    """b42: attribution classes partition all purchases; every purchase is
    credited to view, click, or none."""
    pdf = specs["b42_last_touch_attribution"].build(spark, sf_dir).toPandas()
    n_purchases = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("event_type = 'purchase'")
        .count()
    )
    assert set(pdf["attributed_to"]) <= {"view", "click", "none"}
    assert pdf["n_purchases"].sum() == n_purchases


def test_multiformat_readers_agree(spark, sf_dir, specs):
    """b43: CSV and JSONL read back identical per-source aggregates."""
    pdf = specs["b43_multiformat_scan"].build(spark, sf_dir).toPandas()
    wide = pdf.pivot(index="source", columns="fmt", values="n_chars")
    assert (wide["csv"] == wide["jsonl"]).all()


def test_cms_never_underestimates_and_is_bounded(spark, sf_dir, specs):
    """x66: the defining CMS invariant holds for every probe, and the
    overestimate stays within the total token mass."""
    pdf = specs["x66_countmin_sketch"].build(spark, sf_dir).toPandas()
    assert pdf["never_underestimates"].all()
    assert (pdf["cms_estimate"] >= pdf["true_n"]).all()


def test_weighted_sample_prefers_longer_docs(spark, sf_dir, specs):
    """x67: exactly 64 docs, and the sampled docs skew longer than the
    corpus median (the point of weighting by size)."""
    pdf = specs["x67_weighted_sample"].build(spark, sf_dir).toPandas()
    assert len(pdf) == 64
    assert (pdf["rank_key"] > 0).all()
    from scylladb_redpanda_cdc_spark.plans.llm_queries import words
    from pyspark.sql import functions as F

    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.size(words(F.col("text"))).alias("n"))
        .toPandas()
    )
    assert pdf["n_tokens"].median() >= corpus["n"].median()


def test_bpe_merge_removes_the_merged_pair(spark, sf_dir, specs):
    """x68: after applying the argmax merge, that pair can never survive
    in the next round's counts (its occurrences became '#')."""
    pdf = specs["x68_bpe_merge_apply"].build(spark, sf_dir).toPandas()
    merged = pdf["merged_pair"].iloc[0]
    assert (pdf["merged_pair"] == merged).all()
    assert merged not in set(pdf["pair"])


def test_stream_quality_filter_matches_batch_kernel(spark, sf_dir, specs):
    """s16: the in-stream scores for original docs equal the batch x48
    scores doc-for-doc (shared kernel, no drift)."""
    stream = specs["s16_stream_quality_filter"].build(spark, sf_dir).toPandas()
    batch = specs["x48_quality_classifier"].build(spark, sf_dir).toPandas()
    merged = stream.merge(batch, on="doc_id", suffixes=("_s", "_b"))
    assert len(merged) == len(batch)
    assert (merged["margin_micro_s"] == merged["margin_micro_b"]).all()


def test_incremental_mv_equals_full_recompute(spark, sf_dir, specs):
    """a20: the incremental path must equal an independently-computed full
    recompute over the whole changelog, row for row."""
    from pyspark.sql import functions as F

    from scylladb_redpanda_cdc_spark.operators import cdc
    from scylladb_redpanda_cdc_spark.sources.changelog import synth_changelog

    inc = (
        specs["a20_incremental_mv"]
        .build(spark, sf_dir)
        .toPandas()
        .sort_values("customer_id")
        .reset_index(drop=True)
    )
    log = synth_changelog(spark, sf_dir)
    state = cdc.materialize_latest(log, ["customer_id", "order_id"])
    full = (
        state.groupBy("customer_id")
        .agg(
            F.count("*").alias("n_live"),
            F.sum(F.floor(F.col("totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .toPandas()
        .sort_values("customer_id")
        .reset_index(drop=True)
    )
    assert inc.equals(full)


def test_collocation_lift_support_floor_and_parts(spark, sf_dir, specs):
    """x69: every emitted bigram meets the support floor, its parts'
    unigram counts bound the pair count, and lift is positive."""
    pdf = specs["x69_collocation_lift"].build(spark, sf_dir).toPandas()
    assert len(pdf) == 20
    assert (pdf["n_ab"] >= 5).all()
    assert (pdf["n_ab"] <= pdf[["n_a", "n_b"]].min(axis=1)).all()
    assert (pdf["lift"] > 0).all()


def test_retrieval_mrr_is_consistent(spark, sf_dir, specs):
    """x70: mrr == 1/first_rel_rank where a relevant hit exists (0 and
    null otherwise), precision is a valid ppm multiple of 1/10."""
    pdf = specs["x70_retrieval_mrr"].build(spark, sf_dir).toPandas()
    hit = pdf["first_rel_rank"].notna()
    assert (pdf.loc[hit, "mrr"] == 1.0 / pdf.loc[hit, "first_rel_rank"]).all()
    assert (pdf.loc[~hit, "mrr"] == 0.0).all()
    assert (pdf["prec_at10_ppm"] % 100000 == 0).all()
    assert (pdf["prec_at10_ppm"] <= 1_000_000).all()


def test_q3_composite_revenue_is_positive_and_bounded(spark, sf_dir, specs):
    """b44: exactly <=10 rows, strictly ordered by revenue desc."""
    pdf = specs["b44_q3_composite"].build(spark, sf_dir).toPandas()
    assert len(pdf) <= 10
    rev = pdf["revenue_micros"].tolist()
    assert rev == sorted(rev, reverse=True)
    assert all(r > 0 for r in rev)


def test_fn_binary_roundtrip_always_holds(spark, sf_dir, specs):
    """f8: the base64 round-trip bit is TRUE for every row and md5 is a
    32-hex string."""
    pdf = specs["f8_fn_binary"].build(spark, sf_dir).toPandas()
    assert pdf["b64_roundtrip_ok"].all()
    assert pdf["md5_hex"].str.fullmatch(r"[0-9a-f]{32}").all()
    assert (pdf["n_bits"] == 8 * pdf["n_bytes"]).all()


def test_gap_fill_spine_is_dense(spark, sf_dir, specs):
    """b45: per user the day spine is contiguous, day-0 counts match the
    raw data, and the forward-filled value is never null."""
    pdf = specs["b45_gap_fill"].build(spark, sf_dir).toPandas()
    assert pdf["ff_value_micros"].notna().all()
    for _, g in pdf.groupby("user_id"):
        days = sorted(g["day"])
        assert days == list(range(days[0], days[-1] + 1))


def test_centered_ann_is_a_valid_cosine_ranking(spark, sf_dir, specs):
    """x71: ten rows, strictly ordered, cosines in [-1, 1]."""
    pdf = specs["x71_centered_ann"].build(spark, sf_dir).toPandas()
    assert len(pdf) == 10
    c = pdf["centered_cos"].tolist()
    assert c == sorted(c, reverse=True)
    assert all(-1.0 <= v <= 1.0 for v in c)


def test_rank_fusion_rewards_dual_membership(spark, sf_dir, specs):
    """x72: ranks are within their lists, the RRF score decomposes into
    the two reciprocal terms, and any doc on BOTH lists outscores any
    doc on one list at similar ranks."""
    pdf = specs["x72_rank_fusion"].build(spark, sf_dir).toPandas()
    assert len(pdf) <= 20
    for c in ("rank_bm25", "rank_ql"):
        got = pdf[c].dropna()
        assert ((got >= 1) & (got <= 50)).all()
    expect = pdf["rank_bm25"].map(
        lambda r: 0.0 if pd.isna(r) else 1.0 / (60.0 + r)
    ) + pdf["rank_ql"].map(lambda r: 0.0 if pd.isna(r) else 1.0 / (60.0 + r))
    import numpy as np

    assert np.allclose(pdf["rrf_score"], expect, rtol=0, atol=0)


def test_pagerank_integer_invariants(spark, sf_dir, specs):
    """x74: every doc gets a rank; isolated docs sit at exactly the
    damping floor (150000 ppm); connected docs never fall below it; and
    a doc with at least one in-edge from a connected node exceeds it."""
    pr = specs["x74_graph_pagerank"].build(spark, sf_dir).toPandas()
    assert pr["rank_ppm"].notna().all()
    assert (pr["rank_ppm"] >= 150_000).all()
    from scylladb_redpanda_cdc_spark.plans.llm_queries import (
        x11_dedup_ngram_jaccard,
    )

    pairs = x11_dedup_ngram_jaccard(spark, sf_dir).toPandas()
    connected = set(pairs["doc_a"]) | set(pairs["doc_b"])
    iso = pr[~pr["doc_id"].isin(connected)]
    assert (iso["rank_ppm"] == 150_000).all()
    linked = pr[pr["doc_id"].isin(connected)]
    if len(linked):
        assert (linked["rank_ppm"] > 150_000).any()


def test_quantile_normalize_grid(spark, sf_dir, specs):
    """x75: within each source, qnorm spans exactly 0..1e6 (n>=2),
    is monotone in (n_chars, doc_id) order, and endpoints are hit."""
    pdf = specs["x75_quantile_normalize"].build(spark, sf_dir).toPandas()
    for _, g in pdf.groupby("source"):
        g = g.sort_values(["n_chars", "doc_id"])
        q = g["qnorm_ppm"].tolist()
        assert q == sorted(q)
        if len(g) >= 2:
            assert q[0] == 0 and q[-1] == 1_000_000
        else:
            assert q == [0]


def test_replay_idempotence_equals_single_delivery(spark, sf_dir, specs):
    """a21: duplicated-tail materialization is row-identical to the
    single-delivery state (a6's output)."""
    a21 = specs["a21_replay_idempotence"].build(spark, sf_dir).toPandas()
    a6 = (
        specs["a6_latest_state_materialize"]
        .build(spark, sf_dir)
        .toPandas()
    )
    key = ["customer_id", "order_id", "product"]
    assert sorted(map(tuple, a21[key].values.tolist())) == sorted(
        map(tuple, a6[key].values.tolist())
    )


def test_epoch_shuffles_are_distinct_permutations(spark, sf_dir, specs):
    """x81: each epoch is a full permutation (n_docs equal) and the three
    fingerprints pairwise differ — the shuffles genuinely reorder."""
    pdf = specs["x81_epoch_shuffle"].build(spark, sf_dir).toPandas()
    assert len(pdf) == 3
    assert pdf["n_docs"].nunique() == 1
    assert pdf["perm_fingerprint"].nunique() == 3


def test_window_distinct_rewrite_is_monotone_bounded(spark, sf_dir, specs):
    """b50: the running distinct count is non-decreasing within each
    customer and never exceeds the global priority cardinality."""
    pdf = specs["b50_window_distinct_rewrite"].build(spark, sf_dir).toPandas()
    assert pdf["distinct_priorities_so_far"].max() <= 5
    assert (pdf["distinct_priorities_so_far"] >= 1).all()


def test_content_defined_boundaries_are_shift_robust():
    """x82's kernel property (pure Python twin of the hash predicate):
    inserting one token changes no boundary decisions elsewhere — each
    token's boundary bit depends only on that token, so chunking is
    shift-robust where fixed windows are not."""
    import hashlib

    def is_boundary(tok: str) -> bool:
        return int(hashlib.sha256(tok.encode()).hexdigest()[:4], 16) % 16 == 0

    toks = [f"tok{i}" for i in range(200)]
    before = [is_boundary(t) for t in toks]
    shifted = toks[:100] + ["inserted"] + toks[100:]
    after = [is_boundary(t) for t in shifted]
    # every original token keeps its decision, regardless of position
    assert after[:100] == before[:100]
    assert after[101:] == before[100:]


def test_bloom_prefilter_is_sound(spark, sf_dir, specs):
    """x83: zero false negatives (every member is a candidate — the
    soundness guarantee), and candidates = members + false positives."""
    row = specs["x83_bloom_prefilter"].build(spark, sf_dir).toPandas().iloc[0]
    assert row["n_false_negatives"] == 0
    assert row["n_candidates"] == row["n_members"] + row["n_false_positives"]
    assert row["n_members"] > 0


def test_x2_bucket_cap_bounds_hot_band_fanout(spark, tmp_path_factory, specs):
    """x2's skew bound (the round-5 audit's one weak mark): a band bucket
    holding more than X2_BUCKET_CAP docs is dropped BEFORE the candidate
    self-join, so a viral template cluster of m docs can never enumerate
    its m^2/2 pairs — while ordinary small buckets keep producing pairs.
    Proven on a synthetic corpus (60 identical hot docs > cap, plus one
    2-doc dup pair <= cap) with the DuckDB twin run on the same dir, so
    builder and oracle apply the identical bound."""
    import duckdb

    from scylladb_redpanda_cdc_spark.plans.llm_queries import X2_BUCKET_CAP

    base = str(tmp_path_factory.mktemp("x2cap"))
    hot = "the viral boilerplate template body repeated across the crawl " * 3
    small = "a genuinely unique pair of documents that match each other " * 3
    rows = [(i, hot, "en", "crawl", len(hot)) for i in range(60)]
    rows += [(1000, small, "en", "crawl", len(small)),
             (1001, small, "en", "crawl", len(small))]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(base + "/documents.parquet")

    assert len(rows) - 2 > X2_BUCKET_CAP  # the hot cluster exceeds the cap
    spec = specs["x2_dedup_fuzzy_minhash"]
    pdf = spec.build(spark, base).toPandas()
    # the 60-doc hot cluster contributes ZERO pairs (1770 without the cap);
    # the small pair survives with all 16 bands shared
    assert set(zip(pdf["doc_a"], pdf["doc_b"])) == {(1000, 1001)}
    assert pdf["n_shared_bands"].iloc[0] == 16

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base}/documents.parquet/*.parquet')"
    )
    odf = con.sql(spec.oracle).df()
    assert sorted(map(tuple, odf.values.tolist())) == sorted(
        map(tuple, pdf[list(odf.columns)].values.tolist())
    )
    con.close()


def test_x97_threshold_levenshtein_matches_reference(spark, sf_dir, specs):
    """x97: the verify stage's banded-DP threshold distance must agree with
    a classic full-DP levenshtein reference on every candidate pair — both
    the reported bounded distance and the -1 past-the-bound sentinel (the
    semantics record-level fuzzy verification stands on). Also pins the
    verdict algebra: verified <=> 0 <= lev_head <= T."""
    from scylladb_redpanda_cdc_spark.plans.llm_queries import (
        X97_HEAD_CHARS,
        X97_LEV_T,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    pdf = specs["x97_fuzzy_verify"].build(spark, sf_dir).toPandas()
    assert len(pdf), "fixture produced no candidate pairs"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .toPandas()
        .set_index("doc_id")["text"]
    )
    # strip(' ') not strip(): Spark's trim removes ASCII spaces only
    heads = docs.str.strip(" ").str.lower().str.slice(0, X97_HEAD_CHARS)
    for row in pdf.itertuples():
        d = lev(heads[row.doc_a], heads[row.doc_b])
        want = d if d <= X97_LEV_T else -1
        assert row.lev_head == want, (row.doc_a, row.doc_b, row.lev_head, d)
        assert row.verified == (0 <= d <= X97_LEV_T)


def test_x96_candidates_come_only_from_probed_buckets(spark, sf_dir, specs):
    """x96's structural claim, pinned independently of the value oracle:
    every returned (query, candidate) pair must live within Hamming
    radius 1 of the query's 6-plane bucket — exactly the probe set —
    and never pair a vector with itself."""
    from pyspark.sql import functions as F

    from scylladb_redpanda_cdc_spark.operators.llm import lsh_bucket

    out = specs["x96_lsh_multiprobe"].build(spark, sf_dir)
    b = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", lsh_bucket(F.col("embedding"), 6).alias("bucket"))
    )
    joined = (
        out.join(
            b.select(F.col("vec_id").alias("qid"), F.col("bucket").alias("qb")),
            "qid",
        )
        .join(b, "vec_id")
        .select(
            "qid",
            "vec_id",
            F.bit_count(F.col("qb").bitwiseXOR(F.col("bucket"))).alias("ham"),
        )
    )
    pdf = joined.toPandas()
    assert len(pdf), "x96 returned no candidates on the fixture"
    assert (pdf["ham"] <= 1).all(), pdf[pdf["ham"] > 1].head()
    assert (pdf["qid"] != pdf["vec_id"]).all()


def test_x104_no_cluster_straddles_splits(spark, sf_dir, specs):
    """x104's whole point: every near-dup cluster lands entirely in ONE
    split (the leak x23 alone permits), and the split always equals the
    canonical member's naive split."""
    pdf = specs["x104_leakage_free_split"].build(spark, sf_dir).toPandas()
    assert (pdf.groupby("cluster_id")["split"].nunique() == 1).all()
    canon = pdf[pdf["doc_id"] == pdf["cluster_id"]]
    assert (canon["split"] == canon["naive_split"]).all()
    assert not canon["repaired"].any()
    # a repaired doc is always a NON-canonical cluster member
    rep = pdf[pdf["repaired"]]
    assert (rep["doc_id"] != rep["cluster_id"]).all()


def test_x105_packing_accounting_balances(spark, sf_dir, specs):
    """x105: packed capacity must balance exactly — windows * L ==
    total_tokens + pad_tokens for every candidate length, totals are
    length-invariant, and straddling docs are impossible when every doc
    fits a window boundary check."""
    pdf = specs["x105_pack_efficiency_sweep"].build(spark, sf_dir).toPandas()
    assert len(pdf) == 4
    assert (
        pdf["n_windows"] * pdf["context_len"]
        == pdf["total_tokens"] + pdf["pad_tokens"]
    ).all()
    assert pdf["total_tokens"].nunique() == 1  # same corpus, every L
    assert (pdf["pad_ppm"] <= 1_000_000).all()
    # larger contexts cannot need more windows
    s = pdf.sort_values("context_len")
    assert s["n_windows"].is_monotonic_decreasing or (
        s["n_windows"].diff().dropna() <= 0
    ).all()


def test_x106_confusion_rows_partition_the_corpus(spark, sf_dir, specs):
    """x106: matrix cells partition the corpus (sum n == doc count), row
    shares stay <= 1e6 ppm, and per-row totals match the cell sums."""
    pdf = specs["x106_langid_confusion"].build(spark, sf_dir).toPandas()
    docs = specs["x16_text_token_count"].build(spark, sf_dir).count()
    assert pdf["n"].sum() == docs
    assert (pdf["share_ppm"] <= 1_000_000).all()
    row_tot = pdf.groupby("lang_true")["n"].sum()
    declared = pdf.groupby("lang_true")["n_true"].first()
    assert (row_tot == declared).all()


def test_x107_occupancy_partitions_the_corpus(spark, sf_dir, specs):
    """x107: every vector lands on exactly one centroid (occupancy sums to
    the corpus), every centroid gets a row (empties included), and the
    load factors average to balanced by construction."""
    pdf = specs["x107_ivf_balance_report"].build(spark, sf_dir).toPandas()
    n_vecs = specs["x5_embed_normalize"].build(spark, sf_dir).count()
    assert pdf["n_vecs"].sum() == n_vecs
    assert (pdf["n_vecs"] >= 0).all()
    # perfect-balance load is 1000; the exact-floor mean can only sit at
    # or just under it
    assert 900 <= pdf["load_x1000"].mean() <= 1000


def test_x108_lineage_covers_every_doc_and_never_mutually_drops(
    spark, sf_dir, specs
):
    """x108: one row per document; 'kept' iff survivor is itself; every
    reason is from the declared vocabulary; and the containment
    tie-break guarantees two docs never drop each other."""
    pdf = specs["x108_dedup_lineage"].build(spark, sf_dir).toPandas()
    docs = specs["x23_split_train_test"].build(spark, sf_dir).count()
    assert len(pdf) == docs and pdf["doc_id"].is_unique
    assert set(pdf["reason"]) <= {"exact", "near", "contained", "kept"}
    kept = pdf[pdf["kept"]]
    assert (kept["survivor_id"] == kept["doc_id"]).all()
    dropped = pdf[~pdf["kept"]]
    assert (dropped["survivor_id"] != dropped["doc_id"]).all()
    cont = dropped[dropped["reason"] == "contained"]
    pairs = set(zip(cont["doc_id"], cont["survivor_id"]))
    assert not any((b, a) in pairs for a, b in pairs)


def test_x109_triplets_are_wellformed(spark, sf_dir, specs):
    """x109: one triplet per anchor; positive shares the anchor's label,
    negative does not, neither is the anchor itself, and margin is
    exactly pos_cos - neg_cos."""
    pdf = specs["x109_triplet_mining"].build(spark, sf_dir).toPandas()
    emb = (
        specs["x5_embed_normalize"]
        .build(spark, sf_dir)
        .select("vec_id")
        .toPandas()
    )
    import duckdb

    labels = duckdb.sql(
        f"SELECT vec_id, label FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).df()
    lab = dict(zip(labels["vec_id"], labels["label"]))
    assert pdf["anchor_id"].is_unique and len(pdf)
    assert (pdf["pos_id"] != pdf["anchor_id"]).all()
    assert (pdf["neg_id"] != pdf["anchor_id"]).all()
    for _, r in pdf.iterrows():
        assert lab[r["pos_id"]] == lab[r["anchor_id"]]
        assert lab[r["neg_id"]] != lab[r["anchor_id"]]
    assert (pdf["margin"] == pdf["pos_cos"] - pdf["neg_cos"]).all()


def test_x110_mask_geometry_is_consistent(spark, sf_dir, specs):
    """x110: masked tokens never exceed the doc, spans never overlap by
    construction (n_masked <= 3 * n_spans), the encoder length balances,
    and the phase stays inside the block."""
    pdf = specs["x110_span_corruption_mask"].build(spark, sf_dir).toPandas()
    assert (pdf["n_masked"] <= pdf["n_tokens"]).all()
    assert (pdf["n_masked"] <= 3 * pdf["n_spans"]).all()
    assert (pdf["n_masked"] >= pdf["n_spans"].clip(lower=0)).all()
    assert (
        pdf["encoder_len"]
        == pdf["n_tokens"] - pdf["n_masked"] + pdf["n_spans"]
    ).all()
    assert pdf["mask_phase"].between(0, 19).all()
    nz = pdf[pdf["n_tokens"] >= 40]
    # docs long enough always have at least one span, mask rate near 15%
    assert (nz["n_spans"] >= 1).all()
    assert 100_000 <= nz["mask_ppm"].mean() <= 200_000


def test_x111_direction_matches_numpy_eigendecomposition(spark, sf_dir, specs):
    """x111's fixed-point power iteration must actually find the top
    principal component: compare against numpy's exact eigendecomposition
    of the centered covariance — |cosine| > 0.99 after 3 iterations, and
    the emitted vector is unit-scaled in micros."""
    import numpy as np

    pdf = (
        specs["x111_top_pc_power_iteration"]
        .build(spark, sf_dir)
        .toPandas()
        .sort_values("dim")
    )
    v = pdf["pc_micros"].to_numpy(dtype=float)
    # unit in micros (floor rounding loses < 64 * 1 per component)
    assert abs((v**2).sum() - 1e12) < 1e9
    import duckdb

    emb = duckdb.sql(
        "SELECT list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
        f" * 1000000) AS BIGINT)) AS vm FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).df()
    m = np.array(emb["vm"].tolist(), dtype=float)
    m = m - np.floor(m.sum(axis=0) / len(m))  # the same floor-mean centering
    cov = m.T @ m
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    cos = abs(top @ v) / (np.linalg.norm(top) * np.linalg.norm(v))
    assert cos > 0.99, cos


def test_x112_removed_space_is_orthogonal_to_top_pc(spark, sf_dir, specs):
    """x112's removal actually removes: the corrected vectors are
    orthogonal to x111's direction (|cos| ~ 0 up to the integer-floor
    rounding), and the emitted top-10 is rank-consistent."""
    import numpy as np
    from pyspark.sql import functions as F

    from scylladb_redpanda_cdc_spark.plans.llm_queries import _x111_varr

    pdf = (
        specs["x112_common_direction_removal"].build(spark, sf_dir).toPandas()
    )
    assert len(pdf) == 10
    assert list(pdf.sort_values("rank")["rank"]) == list(range(1, 11))
    s = pdf.sort_values("rank")["cos_sim"].to_numpy()
    assert (np.diff(s) <= 0).all()
    v = np.array(
        _x111_varr(spark, sf_dir).collect()[0]["varr"], dtype=float
    )
    pc = specs["x111_top_pc_power_iteration"].build(spark, sf_dir).toPandas()
    # spot-check orthogonality by re-deriving one removed vector
    import duckdb

    emb = duckdb.sql(
        "SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR("
        f"CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vm FROM"
        f" read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).df()
    m = np.array(emb["vm"].tolist(), dtype=float)
    mean = np.floor(m.sum(axis=0) / len(m))
    c = m - mean
    proj = np.floor(c @ v / 1e6)
    r = c * 1e6 - proj[:, None] * v
    cosv = np.abs(r @ v) / (np.linalg.norm(r, axis=1) * np.linalg.norm(v))
    assert cosv.max() < 1e-4, cosv.max()


def test_x113_votes_and_verdicts_are_consistent(spark, sf_dir, specs):
    """x113: one verdict per probe, vote counts within [1, 5], and
    `correct` is exactly the label equality."""
    pdf = specs["x113_knn_label_eval"].build(spark, sf_dir).toPandas()
    assert pdf["qid"].is_unique and len(pdf)
    assert pdf["n_votes"].between(1, 5).all()
    assert (
        pdf["correct"] == (pdf["predicted_label"] == pdf["true_label"])
    ).all()


def test_x114_purity_partitions_members(spark, sf_dir, specs):
    """x114: majority counts never exceed members, purity is the exact
    floor ppm, and member totals sum to the corpus."""
    pdf = specs["x114_cluster_purity"].build(spark, sf_dir).toPandas()
    n_vecs = specs["x5_embed_normalize"].build(spark, sf_dir).count()
    assert pdf["n_members"].sum() == n_vecs
    assert (pdf["n_majority"] <= pdf["n_members"]).all()
    assert (
        pdf["purity_ppm"]
        == (pdf["n_majority"] * 1_000_000 // pdf["n_members"])
    ).all()


def test_x115_soft_weights_conserve_cluster_mass(spark, sf_dir, specs):
    """x115: every cluster's weights sum to ~1e6 ppm (one document's
    worth, up to floor loss < cluster_size), weights match cluster sizes,
    and the x21 cluster labels agree."""
    pdf = specs["x115_soft_dedup_reweight"].build(spark, sf_dir).toPandas()
    cc = specs["x21_dedup_cluster_cc"].build(spark, sf_dir).toPandas()
    merged = pdf.merge(cc[["doc_id", "cluster_id"]], on="doc_id")
    assert (merged["cluster_id_x"] == merged["cluster_id_y"]).all()
    grp = pdf.groupby("cluster_id").agg(
        n=("doc_id", "size"),
        size=("cluster_size", "first"),
        wsum=("weight_ppm", "sum"),
    )
    assert (grp["n"] == grp["size"]).all()
    assert ((1_000_000 - grp["wsum"]) < grp["size"]).all()
    assert (grp["wsum"] <= 1_000_000).all()


def test_x116_fim_geometry_balances(spark, sf_dir, specs):
    """x116: segment lengths always sum to the token count, the FIM rate
    sits near the documented 50% on eligible docs, short docs are always
    plain, and seq_len adds exactly the 3 sentinels on FIM'd docs."""
    pdf = specs["x116_fim_transform"].build(spark, sf_dir).toPandas()
    assert (
        pdf["len_prefix"] + pdf["len_middle"] + pdf["len_suffix"]
        == pdf["n_tokens"]
    ).all()
    assert (pdf.loc[~pdf["is_fim"], "format"] == "plain").all()
    assert set(pdf.loc[pdf["is_fim"], "format"]) <= {"PSM", "SPM"}
    assert (pdf.loc[pdf["n_tokens"] < 10, "is_fim"] == False).all()  # noqa: E712
    assert (
        pdf["seq_len"] == pdf["n_tokens"] + pdf["is_fim"] * 3
    ).all()
    elig = pdf[pdf["n_tokens"] >= 10]
    if len(elig) >= 200:
        rate = elig["is_fim"].mean()
        assert 0.4 <= rate <= 0.6, rate


def test_x117_windows_never_overfull_and_docs_never_split(spark, sf_dir, specs):
    """x117: every doc occupies exactly one window, placed extents fit the
    context, window offsets within a (shard, win) are dense, and
    truncation only happens to oversized docs."""
    pdf = (
        specs["x117_nonsplit_packing"]
        .build(spark, sf_dir)
        .toPandas()
        .sort_values(["shard", "win_id", "token_offset"])
    )
    assert pdf["doc_id"].is_unique
    placed = (pdf["n_tokens"] - pdf["n_truncated"]).clip(upper=2048)
    assert (pdf["token_offset"] + placed <= 2048).all()
    assert ((pdf["n_truncated"] > 0) == (pdf["n_tokens"] > 2048)).all()
    for (_, _), g in pdf.groupby(["shard", "win_id"]):
        offs = list(g["token_offset"])
        ext = list((g["n_tokens"] - g["n_truncated"]).clip(upper=2048))
        expect = 0
        for o, e in zip(offs, ext):
            assert o == expect
            expect += e


def test_kmeans_assign_tiebreak_is_lowest_cid(spark):
    """_kmeans_assign (round-10 map-only array_max form): when two
    centroids are EXACTLY equidistant (identical centroid vectors), the
    assignment must pick the lowest cid — the (cos DESC, cid ASC) window
    tiebreak the ordering struct (c_cos, -cid) encodes. Also pins the
    exact-duplicate-vector case (cos == 1.0 to its own centroid copy)."""
    from pyspark.sql import functions as F

    from scylladb_redpanda_cdc_spark.plans.llm_queries import _kmeans_assign

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        # cid 10 and 20 are identical -> every vector ties across them
        [(20, [1.0, 0.0]), (10, [1.0, 0.0]), (30, [0.0, 1.0])],
        "cid long, cemb array<float>",
    )
    got = {
        r["vec_id"]: (r["cid"], r["c_cos"])
        for r in _kmeans_assign(vecs, cents).collect()
    }
    assert got[1][0] == 10 and abs(got[1][1] - 1.0) < 1e-12  # tie -> lowest cid
    assert got[2][0] == 30 and abs(got[2][1] - 1.0) < 1e-12
    # vec 3 is equidistant to ALL THREE (cos = 1/sqrt(2) each): lowest cid
    assert got[3][0] == 10
    # payload columns survive the argmin untouched
    out_cols = _kmeans_assign(vecs, cents).columns
    assert out_cols == ["vec_id", "embedding", "cid", "c_cos"]


def test_session_caches_are_keyed_per_dataset(spark):
    """Session frames (_x2_pairs/_minhash_bands and every other
    ``@session_frame`` builder) key on the dataset dir: one session
    touching two datasets must get dataset-correct results from both,
    never the other dataset's frame."""
    from scylladb_redpanda_cdc_spark.plans.llm_queries import (
        _minhash_bands,
        _x2_pairs,
    )

    # sf0.001 and sf0.01 share a 500-doc documents fixture; sf0.1 has
    # 5000 docs, so the two universes are distinguishable
    a_dir, b_dir = "/root/testdata/sf0.001", "/root/testdata/sf0.1"
    n_a = _minhash_bands(spark, a_dir).select("doc_id").distinct().count()
    n_b = _minhash_bands(spark, b_dir).select("doc_id").distinct().count()
    assert n_a != n_b, "fixtures unexpectedly equal-sized; test is vacuous"
    pairs_a = _x2_pairs(spark, a_dir)
    pairs_b = _x2_pairs(spark, b_dir)
    assert _x2_pairs(spark, a_dir) is pairs_a
    assert _x2_pairs(spark, b_dir) is pairs_b
    assert pairs_a is not pairs_b
    # the frames reference their own dataset's doc-id universe
    max_a = pairs_a.agg({"doc_b": "max"}).collect()[0][0]
    max_b = pairs_b.agg({"doc_b": "max"}).collect()[0][0]
    assert max_a is None or max_b is None or max_a <= max_b
