"""Semantic invariants for the round-6 text metrics (q125 word
concentration/entropy, q126 cross-doc boilerplate) that the value-hash
oracle can't express: entropy bounds, ratio consistency, and the
corpus-relative boilerplate threshold, on the sf0.001 fixture."""

from __future__ import annotations

import math

from oanda_stream_processor_spark.operators import textops

SF = "/root/testdata/sf0.001"


def test_word_concentration_bounds(spark):
    rows = textops.q125_word_concentration(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.top_word_frac <= 1.0
        # Shannon entropy of a distribution over n_words outcomes
        assert -1e-9 <= r.word_entropy <= math.log2(r.n_words) + 1e-6
        assert r.top_word  # argmax word is always present
        near_edge = abs(r.top_word_frac - textops.REP_TOP_WORD_MAX) < 1e-6
        if not near_edge:
            assert r.keep == (r.top_word_frac <= textops.REP_TOP_WORD_MAX)


def test_entropy_extremes(spark):
    # a single repeated word has zero entropy and top_word_frac 1;
    # all-distinct words have entropy log2(n) and top_word_frac 1/n
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "source": ["t", "t"],
        "text": ["a a a a", "a b c d"],
        "lang": ["en", "en"],
        "n_chars": [7, 7],
    }))
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.doc_id: r for r in
               textops.q125_word_concentration(spark, td).collect()}
    assert out[1].word_entropy == 0.0 and out[1].top_word_frac == 1.0
    assert abs(out[2].word_entropy - 2.0) < 1e-9
    assert out[2].top_word_frac == 0.25
    # tie on count: argmax breaks to the LARGER word in both engines
    assert out[2].top_word == "d"


def test_boilerplate_ratio_consistency(spark):
    rows = textops.q126_boilerplate_shingles(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_shingles
        assert abs(r.boiler_ratio
                   - round(r.n_boiler / r.n_shingles, 6)) < 1e-9


def test_boilerplate_threshold_is_corpus_relative(spark):
    # every shingle flagged boilerplate must appear in >= 1% of docs:
    # recompute the df of the single most-boilerplated doc's shingles
    from pyspark.sql import functions as F
    from oanda_stream_processor_spark.io import load_table
    d = load_table(spark, SF, "documents")
    n_docs = d.count()
    sh = (d.select("doc_id", F.expr(
        "array_distinct(transform(sequence(1, size(filter(split(text, ' '), "
        f"x -> x != '')) - {textops.BOILER_SH - 1}), i -> concat_ws(' ', "
        f"slice(filter(split(text, ' '), x -> x != ''), i, "
        f"{textops.BOILER_SH}))))").alias("shs"))
        .select("doc_id", F.explode("shs").alias("s")))
    df_counts = {r.s: r.c for r in
                 sh.groupBy("s").agg(F.count("*").alias("c")).collect()}
    out = textops.q126_boilerplate_shingles(spark, SF)
    total_boiler = out.agg(F.sum("n_boiler")).first()[0]
    expect = sum(c for s, c in df_counts.items()
                 if c * (100 // textops.BOILER_DF_PCT) >= n_docs)
    assert total_boiler == expect


def test_hard_negatives_invariants(spark):
    from oanda_stream_processor_spark.operators import similarity
    rows = similarity.q127_hard_negatives(spark, SF).collect()
    assert rows
    by_anchor: dict = {}
    for r in rows:
        assert r.anchor_label != r.neg_label       # negatives only
        assert r.neg_id % similarity.HN_POOL_MOD == 0   # from the pool
        assert 1 <= r.rank <= similarity.HN_K
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for rs in by_anchor.values():
        rs.sort(key=lambda r: r.rank)
        # rank order agrees with (cosine desc, neg_id asc)
        keys = [(-r.cosine, r.neg_id) for r in rs]
        assert keys == sorted(keys)


def test_pq_codes_and_recall(spark):
    from pyspark.sql import functions as F
    from oanda_stream_processor_spark.operators import similarity
    e = similarity.load_table(spark, SF, "embeddings")
    cb = similarity._pq_refined_codebook(e).first()["cb"]
    # full 8x16 grid of codewords, each PQ_SUB wide
    assert len(cb) == similarity.PQ_M * similarity.PQ_KS
    assert {(c["m"], c["j"]) for c in cb} == {
        (m, j) for m in range(similarity.PQ_M)
        for j in range(similarity.PQ_KS)}
    assert all(len(c["cw"]) == similarity.PQ_SUB for c in cb)
    out = similarity.q128_ann_pq(spark, SF)
    rows = out.collect()
    assert rows and all(1 <= r.rank <= similarity.TOP_K for r in rows)
    assert all(r.d2 >= 0 for r in rows)
    # PQ is approximate, and the fixture embeddings are isotropic noise
    # (distance concentration: same-label and cross-label mean d2 differ
    # by <3%) — the worst case for any quantizer. The meaningful sanity
    # bar is "far above chance": random top-5 would overlap the exact
    # top-5 at ~5/N = 1%; PQ lands ~20x above that.
    exact = similarity.q45_cosine_topk(spark, SF).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.cand_id)
    got = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.cand_id)
    hits = sum(len(ex[q] & got[q]) for q in ex)
    total = sum(len(v) for v in ex.values())
    n_cand = similarity.load_table(spark, SF, "embeddings").count() - 1
    chance = similarity.TOP_K / n_cand
    assert hits / total >= 5 * chance, \
        f"PQ recall {hits}/{total} not above chance {chance:.3f}"


def test_source_overlap_estimates_exact_jaccard(spark):
    from pyspark.sql import functions as F
    from oanda_stream_processor_spark.operators import dedup
    est = {(r.source_a, r.source_b): r.jaccard_est
           for r in dedup.q129_source_overlap(spark, SF).collect()}
    assert est and all(0.0 <= v <= 1.0 for v in est.values())
    # exact Jaccard between the per-source shingle sets (small fixture)
    d = dedup.load_table(spark, SF, "documents")
    sh = dedup._spark_shingle_hashes(d).join(
        d.select("doc_id", "source"), "doc_id")
    sets: dict = {}
    for r in sh.select("source", "sh").distinct().collect():
        sets.setdefault(r.source, set()).add(r.sh)
    errs = []
    for (a, b), v in est.items():
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        errs.append(abs(v - inter / union))
    # K=24 minhash: expected |err| ~ sqrt(j(1-j)/24) <= 0.10; allow
    # generous slack per pair, tighter on the mean
    assert max(errs) <= 0.35
    assert sum(errs) / len(errs) <= 0.15


def test_effective_tokens_conservation(spark):
    from pyspark.sql import functions as F
    from oanda_stream_processor_spark.operators import increment
    rows = increment.q130_effective_tokens(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.kept_docs <= r.n_docs
        assert 0 <= r.kept_tokens <= r.total_tokens
        assert 0 <= r.effective_ppm <= 1_000_000
    # corpus-wide: kept docs == number of distinct digests
    d = increment.load_table(spark, SF, "documents")
    n_digests = d.select(F.md5(F.col("text").cast("binary"))).distinct().count()
    assert sum(r.kept_docs for r in rows) == n_digests


def test_event_dedup_window_bounds(spark):
    from oanda_stream_processor_spark.operators import behavior
    rows = behavior.q131_event_dedup_window(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_events
        assert r.n_kept >= 1  # first event of any (user, type) always kept


def test_cms_overestimate_guarantee(spark):
    from oanda_stream_processor_spark.operators import textops
    rows = textops.q132_cms_heavy_hitters(spark, SF).collect()
    assert len(rows) == textops.CMS_TOPK
    for r in rows:
        # count-min NEVER underestimates
        assert r.est_n >= r.exact_n > 0
        assert 1 <= r.rank <= textops.CMS_TOPK
    # ranks follow (est desc, token asc)
    keys = [(-r.est_n, r.token) for r in sorted(rows, key=lambda r: r.rank)]
    assert keys == sorted(keys)
    # with a 31-word vocabulary, collisions are rare: the top hitter by
    # estimate should be a genuinely frequent token (est within 2x exact)
    top = min(rows, key=lambda r: r.rank)
    assert top.est_n <= 2 * top.exact_n


def test_k_anonymity_consistency(spark):
    from oanda_stream_processor_spark.operators import behavior
    rows = behavior.q133_k_anonymity(spark, SF).collect()
    assert rows
    ev_total = behavior.load_table(spark, SF, "events").count()
    assert sum(r.n_events for r in rows) == ev_total
    for r in rows:
        assert 0 <= r.n_small_classes <= r.n_classes
        assert 0 <= r.n_risky_events <= r.n_events
        # every small class holds < K events
        assert r.n_risky_events < behavior.K_ANON * max(r.n_small_classes, 1) \
            or r.n_small_classes == 0
        assert 0 <= r.risky_ppm <= 1_000_000


def test_ohlc_gap_fill_density(spark):
    from oanda_stream_processor_spark.operators import scalar
    rows = scalar.q134_ohlc_gap_fill(spark, SF).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for rs in by_type.values():
        rs.sort(key=lambda r: r.bucket)
        # dense hourly grid: consecutive buckets 1h apart
        for a, b in zip(rs, rs[1:]):
            assert (b.bucket - a.bucket).total_seconds() == 3600
        # first bucket always has data (grid starts at min)
        assert not rs[0].is_gap
        carried = None
        for r in rs:
            if r.is_gap:
                assert r.n_events == 0 and r.close is None
                assert r.filled_close == carried  # carry-forward
            else:
                assert r.n_events > 0 and r.filled_close == r.close
                carried = r.close


def test_temporal_split_shares_and_leakage(spark):
    from oanda_stream_processor_spark.operators import increment
    rows = {r.split: r for r in
            increment.q135_temporal_split(spark, SF).collect()}
    assert set(rows) == {"train", "test"}
    total = sum(r.n_events for r in rows.values())
    ev = increment.load_table(spark, SF, "events")
    assert total == ev.count()
    # cutoff at the 80th-percentile event: train holds <= 80% of events
    # (ties at the cutoff timestamp go to test)
    assert rows["train"].n_events <= total * increment.SPLIT_PCT / 100 + 1
    leaked = rows["train"].n_leaked_users
    assert leaked == rows["test"].n_leaked_users  # same scalar both rows
    assert 0 <= leaked <= min(rows["train"].n_users, rows["test"].n_users)


def test_bloom_prefilter_soundness(spark):
    from oanda_stream_processor_spark.operators import increment
    r = increment.q136_bloom_prefilter(spark, SF).first()
    assert r.n_probes == r.n_bloom_pos + r.n_filtered
    # soundness: a Bloom filter has NO false negatives — every true hit
    # is Bloom-positive
    assert r.n_bloom_pos >= r.n_true_hits
    assert r.n_false_pos == r.n_bloom_pos - r.n_true_hits
    assert 0 <= r.fp_ppm <= 1_000_000


def test_lateness_audit_bounds(spark):
    from oanda_stream_processor_spark.operators import behavior
    rows = behavior.q137_lateness_audit(spark, SF).collect()
    assert rows
    ev_total = behavior.load_table(spark, SF, "events").count()
    assert sum(r.n_events for r in rows) == ev_total
    for r in rows:
        assert 0 <= r.n_beyond_watermark <= r.n_out_of_order <= r.n_events
        assert r.max_late_s >= 0
        assert 0 <= r.avg_late_s_floor <= r.max_late_s


def test_zipf_slope_negative_on_fixture(spark):
    from oanda_stream_processor_spark.operators import textops
    r = textops.q138_zipf_slope(spark, SF).first()
    assert 0 < r.n_ranks <= textops.ZIPF_TOPK
    # frequencies are non-increasing in rank, so the OLS slope of
    # ln(freq) on ln(rank) cannot be positive
    assert r.zipf_slope <= 0
    # intercept ~ ln(top frequency): sanity bound
    assert r.intercept_ln > 0


def test_numpy_hash_kernels_match_hof_on_adversarial_unicode(spark):
    """The r11 numpy kernels decode codepoints via utf-32 while the
    expression twins use Spark's ascii() (codepoint of first char) —
    parity must hold beyond the fixtures' ASCII alphabet: multibyte
    codepoints, surrogate-pair emoji, space runs, tabs/newlines inside
    tokens, and boundary-length documents."""
    from oanda_stream_processor_spark.operators.dedup import (
        _spark_shingle_hashes,
        _spark_shingle_hashes_hof,
    )
    from oanda_stream_processor_spark.operators.textops import (
        GRAM,
        WINNOW,
        winnow_fingerprints,
        winnow_fingerprints_hof,
    )

    min_len = GRAM + WINNOW - 1
    texts = [
        "",                                   # empty
        "   ",                                # spaces only
        "ab",                                 # below gram width
        "x" * (min_len - 1),                  # one short of fp minimum
        "x" * min_len,                        # exactly the fp minimum
        "héllo wörld mixé ascii und ünïcode", # latin-1 range
        "中文 分词 测试 中文 分词 测试 中文",      # CJK tokens
        "emoji 🚀 pair 🚀🚀 test tokens here",  # surrogate pairs
        "tab\tand\nnewline are token chars not separators",
        "a  double  space   run makes empty tokens to drop",
        " leading and trailing spaces ",
        ("repeat me " * 40).strip(),          # long, highly repetitive
        # pathological space-free token past _FOLD_VEC_CAP: exercises
        # the capped-vectorized + Python-tail fold split (r11 ADVICE —
        # the uncapped loop ran one numpy dispatch per char of the
        # longest token); flanked so shingles actually form
        "pre " + "y" * 5000 + " mid " + "z" * 4097 + " post",
    ]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    for a, b in ((winnow_fingerprints(d), winnow_fingerprints_hof(d)),
                 (_spark_shingle_hashes(d), _spark_shingle_hashes_hof(d)),
                 (_spark_shingle_hashes(d, with_pos=True).select("doc_id", "sh"),
                  _spark_shingle_hashes_hof(d))):
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_q126_kernel_treats_null_text_as_empty(spark):
    """q126's shingle kernel on a derived documents frame: a null, an
    empty and a whitespace-only text all have no words, so all three
    drop like any doc under BOILER_SH words; real docs are unchanged."""
    from oanda_stream_processor_spark.io import load_table
    docs = (load_table(spark, SF, "documents")
            .select("doc_id", "text").orderBy("doc_id").limit(20))
    edge = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "   "), (-4, "one two three four")],
        "doc_id long, text string")
    out = {r.doc_id: r.shs for r in docs.unionByName(edge).mapInArrow(
        textops.boiler_shingles_arrow, "doc_id long, shs array<string>").collect()}
    assert -1 not in out and -2 not in out and -3 not in out
    assert out[-4] == ["one two three", "two three four"]
    for r in docs.collect():
        words = [w for w in (r.text or "").split(" ") if w]
        assert (r.doc_id in out) == (len(words) >= textops.BOILER_SH)
