"""Physical-plan audits: the shapes that matter at 100 TB, asserted on
explain() output so regressions in join strategy / pushdown / Python
leakage fail loudly.

What each assertion buys at scale:
* BroadcastHashJoin on referential checks — the fact table never shuffles;
* PushedFilters reaching the parquet scan — partition/rowgroup pruning;
* ReadSchema excluding untouched columns — html:binary is ~95% of page
  bytes and must never be read unless a check needs it;
* no BatchEvalPython/ArrowEvalPython in columnar plans — the hot loop
  stays in whole-stage codegen;
* partial_count before the exchange — map-side combine on aggregations.
"""

import contextlib
import io
import re

import pyspark.sql.functions as F
import pytest

from schema_fantasy_spark import table_checks as tc
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    pages(spark, 3000).write.parquet(path)
    return path


def test_referential_check_broadcasts_parent(spark, sf_dir="/root/testdata/sf0.001"):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orphans = tc.referential_orphans(orders, customer, "o_custkey", "c_custkey",
                                     broadcast_parent=True)
    plan = plan_of(orphans)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_columnar_validation_no_python_and_pruned_scan(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    validated = ValidationEngine(PAGES_SCHEMA).apply(df).select("url", "verdict")
    plan = plan_of(validated)
    assert "EvalPython" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema, f"html must not be read: {read_schema}"
    assert "codegen id" in plan


def test_filter_pushdown_to_scan(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet).filter(F.col("lang") == "en")
    plan = plan_of(df)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "lang" in pushed and "EqualTo" in pushed


def test_partition_verdicts_partial_aggregation(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    validated = ValidationEngine(PAGES_SCHEMA).apply(df)
    pv = ValidationEngine.partition_verdicts(
        validated.withColumn("day", F.to_date("warc_ts")), ["day"]
    )
    plan = plan_of(pv)
    # two HashAggregates around one exchange = map-side partial + final
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_topk_uses_take_ordered(spark, sf_dir="/root/testdata/sf0.001"):
    from schema_fantasy_spark.ops import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [0.1] * 64
    topk = sim.cosine_topk(emb, q, 5)
    plan = plan_of(topk)
    # orderBy().limit() must compile to TakeOrderedAndProject — a full sort
    # of 10^12 similarity rows would be a catastrophe
    assert "TakeOrderedAndProject" in plan


def test_salted_agg_two_exchanges(spark, pages_parquet):
    from schema_fantasy_spark import scale

    df = spark.read.parquet(pages_parquet).withColumn(
        "host", scale.host_of(F.col("url"))
    )
    out = scale.salted_count(df, ["host"], F.col("url"), buckets=8)
    plan = plan_of(out)
    # phase-1 agg keyed (host, salt), phase-2 keyed (host): 2 exchanges
    assert plan.count("Exchange") >= 2


def test_dynamic_mode_is_arrow_batched(spark):
    from schema_fantasy_spark.dynamic import validate_json

    df = spark.createDataFrame([('{"a":1}',)], "doc: string")
    out = validate_json(df, "doc", {"required": ["a"]})
    plan = plan_of(out)
    assert "ArrowEvalPython" in plan  # vectorized, not row-at-a-time BatchEvalPython


def test_bucketed_join_avoids_shuffle(spark, tmp_path_factory):
    """Bucketing co-locates join keys at write time: a self-join of two
    tables bucketed on the same key by the same bucket count needs NO
    exchange on either side — the pre-shuffle is amortized across every
    downstream join/agg (the 100 TB answer for repeatedly-joined tables)."""
    # (warehouse dir is a static conf; tables land in ./spark-warehouse,
    # which is gitignored — dropped again below). At test size the planner
    # would rightly broadcast the small side, so disable the broadcast
    # threshold to model the at-scale case where neither side fits.
    df = pages(spark, 2000).select("id", "url", "lang")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in ("pages_b1", "pages_b2"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (df.write.bucketBy(8, "url").sortBy("url").mode("overwrite")
               .format("parquet").saveAsTable(name))
        a = spark.table("pages_b1")
        b = spark.table("pages_b2").select(F.col("url"), F.col("lang").alias("lang2"))
        joined = a.join(b, "url")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides pre-bucketed: zero shuffle
        assert joined.count() >= 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        for name in ("pages_b1", "pages_b2"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ivf_persisted_index_partition_pruning(spark, tmp_path_factory):
    """The persisted IVF index (partitionBy list_id) must prune unprobed
    lists AT THE SCAN: the probe filter appears as PartitionFilters, so at
    10^12 vectors an n_probe/n_lists probe reads only that fraction of
    files. Results must match filtering the in-memory assignment."""
    from schema_fantasy_spark.ops import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned, cents = sim.ivf_index(emb, n_lists=8)
    index_dir = str(tmp_path_factory.mktemp("ivf_index"))
    sim.ivf_write(assigned, cents, index_dir)
    assigned2, cents2 = sim.ivf_read(spark, index_dir)
    assert [list(map(lambda x: round(x, 9), c)) for c in cents2] == [
        list(map(lambda x: round(x, 9), c)) for c in cents
    ]

    q = emb.filter("vec_id = 0").collect()[0]["embedding"]
    # n_probe=3 of 8 mirrors the gated ivf_partial_probe_embeddings query,
    # whose recall-floor oracle cannot itself detect a pruning regression
    topk = sim.ivf_topk(assigned2, cents2, q, 5, n_probe=3)
    plan = plan_of(topk)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:160]
    assert "list_id" in pf and " IN (" in pf, pf
    in_list = pf.split(" IN (", 1)[1].split(")", 1)[0]
    probed = [int(x) for x in re.findall(r"\d+", in_list)]
    assert len(probed) == 3, pf
    # physical pruning: the probe's scan must touch only the probed lists'
    # files — 3 of the 8 list_id=... partition dirs
    files_probed = (
        assigned2.filter(F.col("list_id").isin(probed))
        .select(F.input_file_name()).distinct().count()
    )
    files_all = assigned2.select(F.input_file_name()).distinct().count()
    assert files_all >= 8 and files_probed <= (files_all * 3) // 8 + 1, (
        files_probed, files_all,
    )

    # probe over the persisted index == probe over the live assignment
    live = sim.ivf_topk(assigned, cents, q, 5, n_probe=3)
    assert [tuple(r) for r in topk.collect()] == [tuple(r) for r in live.collect()]


def test_resumable_run_prunes_partitioned_input(spark, tmp_path_factory):
    """North-rule 'explicit partition pruning': when the corpus is stored
    partitioned by the run's partition column (the 100 TB layout), each
    per-partition validation job must read ONLY that partition's files —
    the filter shows up as PartitionFilters, not a post-scan Filter."""
    from schema_fantasy_spark.engine import ValidationEngine
    from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages

    root = str(tmp_path_factory.mktemp("pages_by_day"))
    df = pages(spark, 3000).withColumn("day", F.to_date("warc_ts"))
    df.repartition(4, "day").write.mode("overwrite").partitionBy("day").parquet(root)

    part_df = spark.read.parquet(root)
    one_day = part_df.select(F.col("day").cast("string")).distinct().orderBy("day").collect()[0][0]
    pdf = part_df.filter(F.col("day").cast("string") == one_day)
    validated = ValidationEngine(PAGES_SCHEMA).apply(pdf)
    plan = plan_of(validated)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:160]
    assert "day" in pf, pf
    # and the scan is the pruned one, not a full scan + Filter on day
    assert validated.count() > 0


def test_duplicate_clusters_bounded_plan(spark):
    """the cluster loop's localCheckpoint() must truncate lineage: the
    final plan depends on the LAST round only (scan of checkpointed RDDs
    + one join), not a 20-round join tower."""
    from schema_fantasy_spark.ops import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a: long, id_b: long"
    )
    # driver_max_edges=0 forces the DISTRIBUTED rounds this test pins
    # (the r9 size-adaptive switch resolves graphs this small driver-side)
    clusters = dedup.duplicate_clusters(pairs, driver_max_edges=0)
    plan = plan_of(clusters, mode="simple")
    # a checkpointed plan reads "Scan ExistingRDD"; an unbounded one would
    # nest SortMergeJoin/union towers many levels deep
    assert "ExistingRDD" in plan
    assert plan.count("Join") <= 2, plan


def test_duplicate_clusters_one_action_per_round(spark):
    """each propagation round must run exactly ONE Spark job: the
    changed-label count doubles as the lazy-checkpoint materialization
    (a separate convergence probe would double the round count — pure
    scheduler overhead on a cold cluster). Chain graph 0-2-4-...-38:
    pointer jumping converges in ~4 rounds + 1 confirming round."""
    from schema_fantasy_spark.ops import dedup

    pairs = spark.createDataFrame(
        [(i, i + 2) for i in range(0, 38, 2)], "id_a: long, id_b: long"
    )
    sc = spark.sparkContext
    group = "cluster-job-audit"
    # AQE splits one action into a job per query stage, which would make
    # the job count measure shuffle depth, not action count — disable it
    # for the audit so 1 action == 1 job
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "count jobs per cluster round")
    try:
        # force the distributed rounds (see test above)
        out = dedup.duplicate_clusters(pairs, driver_max_edges=0)
        n = out.count()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert n == 20
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # budget: 1 edges-checkpoint + 1 size probe + <=6 rounds + 1 final
    # count; the old two-actions-per-round shape lands at ~14 and must
    # fail this
    assert len(jobs) <= 9, f"{len(jobs)} jobs: {sorted(jobs)}"


def test_webtext_ops_plan_shapes(spark):
    """The round-5 web-pipeline operators keep their scale shapes:
    html/pii/url expressions are Python-free and shuffle-free;
    decontamination broadcast-joins the benchmark grams (the corpus
    never sort-merges)."""
    import contextlib
    import io

    from schema_fantasy_spark.ops import decontaminate as dc
    from schema_fantasy_spark.ops.html import extract_text
    from schema_fantasy_spark.ops.pii import pii_scrub
    from schema_fantasy_spark.ops.urls import canonicalize_url

    docs = spark.createDataFrame(
        [(i, f"some text {i}", f"https://H{i}.Ex.com:443/p?b=2&a=1")
         for i in range(50)],
        "doc_id: long, text: string, url: string",
    )

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    p = plan(docs.select(
        extract_text(F.col("text")).alias("t"),
        pii_scrub(F.col("text")).alias("p"),
        canonicalize_url(F.col("url")).alias("u"),
    ))
    assert "EvalPython" not in p
    assert "Exchange" not in p

    bench = docs.filter(F.col("doc_id") % 7 == 0)
    p2 = plan(dc.contamination_hits(docs, bench))
    assert "BroadcastHashJoin" in p2
    assert "SortMergeJoin" not in p2

    # The hits side of with_contamination is a full-corpus aggregate
    # (unbounded) — it must NOT carry a broadcast hint. With auto-
    # broadcast off, only the bounded benchmark-gram join may still
    # broadcast; the docs<->hits join must plan as a non-broadcast join.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p3 = plan(dc.with_contamination(docs, bench))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SortMergeJoin LeftOuter" in p3, p3  # docs<->hits: not broadcast
    assert "BroadcastHashJoin LeftOuter" not in p3, p3


def test_pagerank_bounded_lineage_and_jobs(spark):
    """ops/linkgraph.pagerank: the per-iteration lazy localCheckpoint
    must truncate lineage — the returned plan reads an ExistingRDD and
    carries only the LAST iteration's joins (an untruncated 5-iteration
    plan would nest 3^5 subtrees and dozens of joins) — and a full
    materialization must stay a bounded number of jobs (1 final action;
    broadcast exchanges for N and the per-iteration dangling aggregate
    account for the rest)."""
    from schema_fantasy_spark.ops.linkgraph import pagerank

    edges = spark.createDataFrame(
        [(f"h{i}", f"h{(i * 3 + 1) % 7}") for i in range(7)]
        + [("h7", "h0")],  # h7 dangles (never a dst of the cycle part)
        "src: string, dst: string",
    )
    plan = plan_of(pagerank(edges, iterations=5), "simple")
    assert "ExistingRDD" in plan
    assert plan.count("Join") <= 4, plan

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    group = "pagerank-job-audit"
    sc.setJobGroup(group, "count jobs for one pagerank materialization")
    try:
        n = len(pagerank(edges, iterations=5).collect())
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert n == 8
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # 1 N-broadcast + 5 dangling broadcasts + 1 final collect (+ slack 2)
    assert len(jobs) <= 9, f"{len(jobs)} jobs: {sorted(jobs)}"


def test_classifier_scoring_python_free_no_shuffle(spark):
    """ops/classifier scoring is a whole-scan fold against a literal
    map: no Python in the plan, no Exchange — text never moves."""
    from schema_fantasy_spark.ops.classifier import (
        TokenModel,
        with_classifier_score,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id: long, text: string"
    )
    model = TokenModel(weights={"alpha": 10, "beta": -3}, w_unk=-1, prior=5)
    plan = plan_of(with_classifier_score(df, model))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_frontier_and_balance_single_window_exchange(spark):
    """The two window ops (frontier scheduling, domain balancing) cost
    exactly ONE key-partitioned Exchange each — the shard/domain hash
    is an expression, not a second shuffle — and stay Python-free."""
    from schema_fantasy_spark.ops.frontier import schedule_fetches
    from schema_fantasy_spark.scale import balance_by_domain

    df = spark.createDataFrame(
        [(1, "a.com", "https://a.com/1", 5)],
        "doc_id long, host string, url string, score int",
    )
    for out in (
        schedule_fetches(df, num_shards=8, per_host_cap=3),
        balance_by_domain(df, "host", score_col="score", cap=3),
    ):
        plan = plan_of(out, mode="simple")
        assert "EvalPython" not in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_substring_dedup_shuffles_hashes_not_text(spark):
    """Exact-substring dedup: the gram-side exchanges carry (id, offset,
    hash) — the text column appears in NO Exchange's output, and there
    is no unconditional broadcast of the unbounded dup-hash set."""
    from schema_fantasy_spark.ops.dedup import substring_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    plan = plan_of(substring_dedup(df, gram_words=4), mode="simple")
    assert "EvalPython" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text" not in ln, ln


def test_column_stats_single_scan(spark, sf_dir="/root/testdata/sf0.001"):
    """column_stats must profile k columns in ONE pass over the table
    (wide agg + stack unstack; multi-column count_distinct plans through
    Expand — a k-way row expansion but a single scan). The previous
    per-column agg-union shape cost k full scans: at 100 TB, profiling
    4 columns read 400 TB."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    stats = tc.column_stats(
        li, ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]
    )
    plan = plan_of(stats)
    # formatted mode prints each node twice (tree + detail) — count the
    # numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan  # the one-scan multi-distinct strategy
    # and the full profile (stats + percentiles) is exactly two scans
    pct = tc.percentiles(li, ["l_extendedprice", "l_quantity"])
    profile = stats.join(F.broadcast(pct), "col_name", "left")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan_of(profile))) == 2


def test_array_decoder_sql_path_engages(spark):
    """The HOF-heavy parsers (sitemaps, feeds, boilerplate) must reach
    the SQL array decoder — their round-7 shape passed a transform(...)
    argument whose BOUND lambda variables tripped the conservative
    free-variable guard, silently falling back to the interpreted Column
    twin at every call site (semantics identical, but the documented
    driver-py4j/interpreted-HOF cost was still paid). The restage
    projects raw arrays under bare names, decodes in a plain Project
    (a SQL UDF inside Generate is UNSUPPORTED_SQL_UDF_USAGE), and
    barriers the decoded column; the analyzed plan must therefore show
    the registered function, and the optimized sitemap plan must inline
    it exactly once per decoded field (3 fields + children = 4)."""
    from schema_fantasy_spark.ops.boilerplate import with_block_stats
    from schema_fantasy_spark.ops.feeds import parse_feeds
    from schema_fantasy_spark.ops.sitemap import parse_sitemaps

    sm = spark.createDataFrame(
        [("h", "<urlset></urlset>")], "host string, sitemap_xml string"
    )
    out = parse_sitemaps(sm)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "sfs_decode_entities_arr" in analyzed
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("array_join(transform(") == 4, optimized

    fd = spark.createDataFrame(
        [("h", "<rss></rss>")], "host string, feed_xml string"
    )
    assert "sfs_decode_entities_arr" in (
        parse_feeds(fd)._jdf.queryExecution().analyzed().toString()
    )

    bp = spark.createDataFrame([(bytearray(b"<p>x</p>"),)], "html binary")
    assert "sfs_decode_entities_arr" in (
        with_block_stats(bp)._jdf.queryExecution().analyzed().toString()
    )


def test_parsers_reject_staging_name_collisions(spark):
    """Staging through fixed internal names must fail loudly when the
    caller's DataFrame already carries one (silent clobber otherwise)."""
    from schema_fantasy_spark.ops.boilerplate import with_block_stats
    from schema_fantasy_spark.ops.sitemap import parse_sitemaps

    df = spark.createDataFrame(
        [("h", "<urlset/>", "clash")],
        "host string, sitemap_xml string, __locs string",
    )
    with pytest.raises(ValueError, match="__locs"):
        parse_sitemaps(df, key_cols=("host", "__locs"))
    bp = spark.createDataFrame(
        [(bytearray(b"<p>x</p>"), "y")], "html binary, __blocks string"
    )
    with pytest.raises(ValueError, match="__blocks"):
        with_block_stats(bp)


def test_nfc_lengths_exactly_one_arrow_slice(spark):
    """nfc_lengths=True buys reference-exact NFC length counting
    (src/v4/minLength.js:19-20) at the cost of exactly ONE ArrowEvalPython
    slice — never row-Python, never more than one Python stage even with
    both minLength and maxLength in the schema. The default configuration
    stays Python-free (raw code points, documented divergence)."""
    from schema_fantasy_spark.engine import ValidationEngine

    schema = {"properties": {"s": {"minLength": 2, "maxLength": 3}}}
    df = spark.createDataFrame(
        [("ÅBC",), ("x",)], "s: string"  # decomposed Å + BC: 4 raw, 3 NFC
    )
    eng = ValidationEngine(schema, nfc_lengths=True)
    out = eng.apply(df)
    got = {r["s"]: r["verdict"] for r in out.collect()}
    assert got == {"ÅBC": True, "x": False}  # NFC: 3 <= 3; 1 < 2
    plan = plan_of(out)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert "BatchEvalPython" not in plan
    # default engine: no Python at all, and the RAW count (4 > 3) flips
    # the verdict — the two configurations genuinely diverge on this row
    dflt = ValidationEngine(schema).apply(df)
    assert "EvalPython" not in plan_of(dflt)
    assert {r["s"]: r["verdict"] for r in dflt.collect()} == {
        "ÅBC": False, "x": False
    }
