"""Physical-plan regression guards: the properties that make these
queries scale (broadcasts, hash aggregation, column pruning, pushdown,
partial aggregation) are asserted so a refactor can't silently
replace them with shuffle-heavy or sort-based plans."""

import os

import pytest

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as e

    return e


def test_flagship_plan_shape(spark):
    """Default (scan strategy): scan(pruned) -> filter -> narrow
    coalesce -> MapInPandas with ZERO payload exchange; the shuffle
    strategy keeps exactly the one url-hash exchange. No Python
    outside the one mapInPandas either way."""
    from ocr_spark.corpus import write_corpus
    from ocr_spark.operators import extract_documents
    import tempfile

    d = tempfile.mkdtemp()
    p = os.path.join(d, "docs.parquet")
    write_corpus(p, 50, seed=21)
    df = extract_documents(spark.read.parquet(p), n_partitions=4)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Coalesce" in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    # column pruning: the scan must not read text/warc_ts/lang
    assert "ReadSchema: struct<url:string,html:binary>" in plan, plan

    shuffled = extract_documents(
        spark.read.parquet(p), n_partitions=4, strategy="shuffle"
    )
    splan = _plan(shuffled)
    assert splan.count("Exchange") == 1, splan
    assert "xxhash64(url" in splan, splan
    assert splan.count("MapInPandas") == 1, splan


def test_broadcast_join_is_broadcast(spark, entry_mod):
    plan = _plan(entry_mod.queries()["broadcast_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_three_way_join_broadcasts_both_dims(spark, entry_mod):
    plan = _plan(entry_mod.queries()["join_three_way"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_minhash_uses_hash_aggregate(spark, entry_mod):
    """The signature min-agg must stay hash-aggregable (bigint buffer)
    with a map-side partial — not SortAggregate over exploded shingles."""
    plan = _plan(entry_mod.queries()["dedup_minhash_lsh"](spark, SF_DIR))
    assert "SortAggregate" not in plan, plan
    assert "partial_min" in plan, plan


def test_assembly_has_partial_aggregation(spark, entry_mod):
    """collect_list assembly runs partial->final (map-side combine)."""
    plan = _plan(entry_mod.queries()["assembly"](spark, SF_DIR))
    assert "partial_" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_filter_pushdown_reaches_scan(spark, entry_mod):
    """Row-group-skippable predicates appear as PushedFilters."""
    plan = _plan(entry_mod.queries()["filter_size"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(n_chars), LessThanOrEqual(n_chars,300)]" in plan or (
        "LessThanOrEqual(n_chars,300)" in plan
    ), plan


def test_column_pruning_projects_only_needed(spark, entry_mod):
    plan = _plan(entry_mod.queries()["page_stats"](spark, SF_DIR))
    # documents has (doc_id,text,lang,source,n_chars); text must not be read
    assert "text" not in plan.split("ReadSchema:")[1].splitlines()[0], plan


def test_topn_is_take_ordered(spark, entry_mod):
    plan = _plan(entry_mod.queries()["topn"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_semi_join_stays_semi(spark, entry_mod):
    plan = _plan(entry_mod.queries()["semi_join"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan


def test_shuffle_strategy_single_scan_single_shuffle(spark):
    """Over-partitioned shuffle extraction (the byte-skew setting) must
    not fork a second branch over the input: one parquet scan, one
    Exchange, one MapInPandas (memory is bounded by the Arrow byte cap,
    parallelism by over-partitioning)."""
    from ocr_spark.corpus import write_corpus
    from ocr_spark.operators import extract_documents
    import tempfile

    d = tempfile.mkdtemp()
    p = os.path.join(d, "docs.parquet")
    write_corpus(p, 40, seed=27)
    df = extract_documents(
        spark.read.parquet(p), n_partitions=16, strategy="shuffle"
    )
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("MapInPandas") == 1, plan


def test_embedding_lsh_computes_signatures_once(spark):
    """neardup_pairs must not self-join the keyed (exploded) relation:
    the 32 hyperplane dot products are computed once per vector, so the
    plan contains exactly one posexplode of the bucket array."""
    from ocr_spark.operators import ann

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    plan = _plan(ann.neardup_pairs(ann.neardup_corpus(emb)))
    assert plan.count("Generate posexplode") == 1, plan


def test_ivf_assignment_no_window_no_shuffle(spark):
    """The centroid assignment is an array argmax over broadcast
    literals — no ranking Window, no Exchange, no 16x row blow-up."""
    from ocr_spark.operators import ann

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    plan = _plan(ann.ivf_assignments(emb))
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed+sorted on the join key must equi-join with
    no Exchange on either side (the layout every downstream curation
    join should use at 100 TB)."""
    from pyspark.sql import functions as F

    from ocr_spark.corpus import write_corpus
    from ocr_spark.plans import colocated_join, save_bucketed

    p = os.path.join(str(tmp_path), "docs.parquet")
    write_corpus(p, 200, seed=31)
    docs = spark.read.parquet(p)
    left = docs.select("url", F.length("html").alias("bytes_in"))
    right = docs.select("url", F.length("text").alias("chars"))
    spark.sql("DROP TABLE IF EXISTS t_bucket_left")
    spark.sql("DROP TABLE IF EXISTS t_bucket_right")
    save_bucketed(left, "t_bucket_left", 8)
    save_bucketed(right, "t_bucket_right", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, "t_bucket_left", "t_bucket_right")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bucket_left")
        spark.sql("DROP TABLE IF EXISTS t_bucket_right")


@pytest.mark.parametrize("n_done", [64, 10_001])
def test_resume_filter_no_join_no_exchange(spark, tmp_path, lineage_done, n_done):
    """The resume filter is one row predicate at any done-set size: no
    join, and the input table never shuffles."""
    from ocr_spark.corpus import write_corpus
    from ocr_spark.plans.lineage import pending_after_resume

    inp, lin = str(tmp_path / "in.parquet"), str(tmp_path / "lin")
    write_corpus(inp, 60, seed=13)
    lineage_done(lin, spark.range(n_done), 16_384)
    pending = pending_after_resume(spark, spark.read.parquet(inp), lin, 16_384)
    plan = _plan(pending)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_spread_cpu_widens_narrow_scan(spark, corpus_path):
    """A one-row-group file scan pins tokenize-heavy work to a single
    task; spread_cpu must round-robin it to >= defaultParallelism and
    be a no-op on an already-wide plan (no double Exchange)."""
    from ocr_spark.plans import spread_cpu

    docs = spark.read.parquet(corpus_path)
    target = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < target or target == 1

    wide = spread_cpu(docs)
    assert wide.rdd.getNumPartitions() >= target
    assert wide.count() == docs.count()
    assert "RoundRobinPartitioning" in _plan(wide)

    # composing on a fresh (unexecuted) frame is a no-op, not a
    # second exchange
    again = spread_cpu(spread_cpu(spark.read.parquet(corpus_path)))
    assert _plan(again).count("RoundRobinPartitioning") == 1


def test_spread_cpu_ignores_upstream_narrow_repartition(spark, corpus_path):
    """The root-repartition check must not be fooled by a NARROW
    repartition buried below other operators: the frame is still
    2-wide at the CPU stage, so spread_cpu must still spread it."""
    from pyspark.sql import functions as F

    from ocr_spark.plans import spread_cpu

    target = spark.sparkContext.defaultParallelism
    narrow = (
        spark.read.parquet(corpus_path)
        .repartition(2)
        .filter(F.length("text") >= 0)
        .select("url", "text")
    )
    spread = spread_cpu(narrow)
    assert spread.rdd.getNumPartitions() >= target
    # while a repartition AT THE ROOT is respected (caller already
    # width-managed this exact frame): exactly the one exchange
    rooted = spread_cpu(spark.read.parquet(corpus_path).repartition(2))
    assert _plan(rooted).count("Exchange") == 1


def test_edit_verify_join_shape(spark, entry_mod):
    """T134: the Levenshtein gate attaches prefixes to the LSH pair
    list with equi-joins only — no BroadcastNestedLoopJoin/cartesian
    (which would mean the candidate bound was lost) and no Sort-based
    aggregate anywhere in the minhash stage."""
    df = entry_mod.queries()["edit_verify"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan.lower()


def test_zipf_slope_topn_not_global_sort(spark, entry_mod):
    """T135: the top-N vocabulary cut must compile to
    TakeOrderedAndProject (per-partition top-N + bounded driver merge)
    — a global Sort of the full vocabulary is the single-partition
    bottleneck this op was designed around."""
    df = entry_mod.queries()["zipf_slope"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_hash_sample_is_take_ordered(spark, entry_mod):
    """T149: the bottom-k sample must compile to
    TakeOrderedAndProject (per-task k-row heap, bounded driver merge)
    — a global Sort would serialize the whole corpus through one
    partition for a 100-row sample."""
    df = entry_mod.queries()["hash_sample"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan


def test_license_and_code_detect_zero_exchange(spark, entry_mod):
    """T153/T154: per-row classification columns must stay narrow —
    zero Exchange, no UDF (literal contains()/regexp chains stay in
    whole-stage codegen)."""
    for name in ("license_filter", "code_detect"):
        df = entry_mod.queries()[name](spark, SF_DIR)
        plan = _plan(df)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_pack_sequences_no_global_window(spark, entry_mod):
    """T150: the prefix sum must run as bucket-partitioned windows +
    a broadcast offset join — a single-partition global window
    (Exchange SinglePartition feeding the running sum over the whole
    corpus) is the bottleneck the two-pass design removes."""
    df = entry_mod.queries()["pack_sequences"](spark, SF_DIR)
    plan = _plan(df)
    # the only SinglePartition exchange allowed is the bounded
    # PACK_BUCKETS-row offset table's window
    import re

    sp = [
        m.start() for m in re.finditer(r"Exchange SinglePartition", plan)
    ]
    assert len(sp) <= 1
    assert "BroadcastHashJoin" in plan


def test_centroid_shift_single_payload_shuffle(spark, entry_mod):
    """T157: embeddings are posexploded and reduced by (label, dim)
    with map-side combine — the plan must show partial aggregation
    before its exchange and never shuffle raw vectors more than
    once."""
    df = entry_mod.queries()["centroid_shift"](spark, SF_DIR)
    plan = _plan(df)
    assert "partial" in plan.lower() or "Partial" in plan
    # label/dim agg + per-label fold: at most 2 hash-partition
    # exchanges of keyed bigints, no sort-based aggregate
    import re

    ex = re.findall(r"Exchange hashpartitioning", plan)
    assert len(ex) <= 2
    assert "SortAggregate" not in plan


def test_row_audit_ops_single_exchange(spark, entry_mod):
    """T158/T159/T166/T167: per-row flag/ratio columns + one grouped
    rollup must compile to exactly the aggregation exchanges and no
    Python eval — these are the scan-cost passes that run first at
    10^12 rows."""
    import re

    for name, max_ex in (
        ("numeric_density", 1),
        ("residue_audit", 1),
        ("context_fit", 1),
        ("host_lang_entropy", 2),  # (host, lang) agg + per-host rollup
    ):
        df = entry_mod.queries()[name](spark, SF_DIR)
        plan = _plan(df)
        ex = re.findall(r"Exchange hashpartitioning", plan)
        assert len(ex) <= max_ex, (name, len(ex))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_cos_histogram_no_cartesian(spark, entry_mod):
    """T165: the adjacent-pair join must stay an equi-join — a
    BroadcastNestedLoopJoin/cartesian would mean the deterministic
    one-pair-per-two-vectors contract silently became all-pairs."""
    df = entry_mod.queries()["cos_histogram"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_drift_single_corpus_scan(spark, entry_mod):
    """T163: old and new snapshot counts come from ONE conditional-
    aggregation scan, and the vocab table feeding both the totals row
    and the per-word fold is checkpoint-materialized — without the
    barrier Spark re-derives the corpus scan + word shuffle for each
    use (2 parquet scans), doubling the dominant cost at 10^12 rows."""
    df = entry_mod.queries()["unigram_drift"](spark, SF_DIR)
    plan = _plan(df)
    import re

    # the corpus scan lives inside the (already-run) checkpoint job;
    # the final plan must read the materialized vocab, not re-derive
    assert len(re.findall(r"Scan parquet", plan)) == 0
    assert len(re.findall(r"Scan ExistingRDD", plan)) == 2


def test_rrf_fusion_bounded_lists_and_broadcast_query(spark, entry_mod):
    """T176: the semantic list's query vector reaches the corpus scan
    as a broadcast (embeddings never shuffle for the crossJoin), the
    top-k cut is TakeOrderedAndProject on both retriever outputs, and
    the fusion's full-outer join (sort-merge — FullOuter can't
    broadcast) consumes only those bounded frames: a TakeOrdered
    limit=list_k cut sits on EACH side of the join, plus the final
    topn cut."""
    import re

    df = entry_mod.queries()["rrf_fusion"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert len(re.findall(r"TakeOrderedAndProject\(limit=20", plan)) == 2
    assert len(re.findall(r"TakeOrderedAndProject\(limit=15", plan)) == 1
    assert "CartesianProduct" not in plan


def test_lang_quality_deciles_no_doc_level_sort(spark, entry_mod):
    """T177: the decile boundaries come from the bounded
    (lang, score_milli) histogram — no ntile and no document-level
    global sort may appear; the only window runs over post-aggregation
    histogram rows."""
    df = entry_mod.queries()["lang_quality_deciles"](spark, SF_DIR)
    plan = _plan(df)
    assert "ntile" not in plan.lower()
    # the first wide exchange must carry hash-aggregated histogram
    # rows: a partial_count before any Exchange proves map-side combine
    before_exchange = plan.split("Exchange", 1)[0]
    assert "HashAggregate" in plan
    assert "partial_count" in plan


def test_src_lang_affinity_single_scan_bounded_windows(spark, entry_mod):
    """T178: one parquet scan builds the contingency cells; the
    marginal windows run over the bounded cells table, never a second
    corpus pass."""
    import re

    df = entry_mod.queries()["src_lang_affinity"](spark, SF_DIR)
    plan = _plan(df)
    assert len(re.findall(r"Scan parquet", plan)) == 1
    assert "partial_count" in plan


def test_extraction_parity_equi_join_no_cartesian(spark, entry_mod):
    """T180: the two extraction outputs must meet in a url-keyed
    equi-join — a nested-loop/cartesian would mean the parity audit
    silently became all-pairs; the rollup stays one partial agg."""
    df = entry_mod.queries()["extraction_parity"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial" in plan.lower()


def test_decile_ops_have_no_corpus_ntile(spark, entry_mod):
    """T155/T161: both decile curves must compile WITHOUT a corpus-wide
    ntile window — quality_calibration bands over the bounded score
    histogram (T177 shape) and vocab_growth assigns fixed hash ranges
    in-row; an `ntile` in either plan means a single reducer sorts the
    whole corpus again."""
    for name in ("quality_calibration", "vocab_growth"):
        df = entry_mod.queries()[name](spark, SF_DIR)
        plan = _plan(df)
        assert "ntile" not in plan.lower(), name


def test_media_codec_census_plan_is_narrow(spark, entry_mod):
    """T186 census: one pruned scan (doc_id only) -> one MapInPandas;
    zero Exchange — planting + decoding real codec payloads is
    embarrassingly parallel and must stay that way at 100 TB."""
    df = entry_mod.q_media_codec_census(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "text" not in plan.split("ReadSchema")[-1], plan


def test_source_overlap_matrix_plan_bounds(spark, entry_mod):
    """T187: gram-keyed exchanges only — the per-source totals join
    must be broadcast (bounded table), and nothing sorts the corpus."""
    df = entry_mod.q_source_overlap_matrix(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_referential_integrity_plan_single_scan_per_side(spark, entry_mod):
    """T189: each of the 3 relations costs exactly one scan per side
    (6 total) — the crossJoin-of-aggregates shape that re-scanned
    every table ~3x is the regression this guards against."""
    df = entry_mod.q_referential_integrity(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Scan parquet") == 6, plan
    assert plan.count("Exchange") <= 12, plan
