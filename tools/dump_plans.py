"""Generate PLANS.md: physical-plan evidence for the scale-relevant claims
(pushdown, pruning, broadcast, codegen spans, Python-free fan-out)."""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.01"


def n_nodes(ftext: str, op: str) -> int:
    """Distinct plan-node ids of one operator (the detail appendix repeats
    every node, so raw substring counts double-count)."""
    return len(set(re.findall(re.escape(op) + r"\s*\((\d+)\)", ftext)))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    # keep it readable: drop the operator-detail appendix
    text = buf.getvalue()
    head = text.split("\n\n(1)")[0]
    return head.strip()


def main():
    from extract_text_spark.pipeline import explode_archives_df, extract_spans_df
    from extract_text_spark.queries import (
        QUERIES, _docs_as_span_table,
    )
    from extract_text_spark.session import get_spark

    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=8)
    sections = []

    def add(title, df, claims):
        p = plan_of(df)
        full = io.StringIO()
        with redirect_stdout(full):
            df.explain("formatted")
        ftext = full.getvalue()
        checks = []
        for label, pattern in claims:
            if callable(pattern):
                ok = pattern(ftext)
            else:
                ok = re.search(pattern, ftext) is not None
            checks.append(f"- [{'x' if ok else ' '}] {label}")
        sections.append(f"## {title}\n\n" + "\n".join(checks)
                        + "\n\n```\n" + p + "\n```\n")

    q1 = QUERIES["q1_pricing_summary"](spark, SF)
    add("q1_pricing_summary — scan-side filter + partial aggregation", q1, [
        ("filter pushed into parquet scan (PushedFilters)",
         r"PushedFilters: \[.*LessThanOrEqual"),
        ("column pruning (ReadSchema only needs 6 cols)",
         r"ReadSchema:[^\n]*l_returnflag"),
        ("map-side partial aggregate before the shuffle",
         r"partial_count|HashAggregate"),
        ("adaptive execution enabled (runtime re-plan)", r"AdaptiveSparkPlan"),
    ])

    q3 = QUERIES["q3_top_orders"](spark, SF)
    add("q3_top_orders — broadcast the filtered dimension", q3, [
        ("customer side broadcast (no shuffle of the fact for the dim join)",
         r"BroadcastHashJoin|BroadcastExchange"),
        ("dim filter before broadcast", r"c_mktsegment"),
        ("top-k via TakeOrderedAndProject (no global sort)",
         r"TakeOrderedAndProject"),
    ])

    fan = explode_archives_df(_docs_as_span_table(spark, SF))
    def one_scan(ftext: str) -> bool:
        # count scans in the plan TREE only (the detail appendix repeats
        # every node once more, so raw substring counts double-count)
        return ftext.split("\n\n(1)")[0].count("Scan parquet") == 1
    add("archive fan-out — single scan, JVM-only", fan, [
        ("exactly one parquet scan (double-occurrence negated)", one_scan),
        ("one generator (explode), no unions", r"(?s)Generate.*explode"),
        ("no Python evaluation anywhere", lambda t: "EvalPython" not in t),
        ("whole-stage codegen around the generate (starred ops)",
         r"\* (Project|ColumnarToRow)"),
    ])

    pipe = extract_spans_df(_docs_as_span_table(spark, SF), salt_partitions=8)
    add("full extraction pipeline — one pass, one Python stage", pipe, [
        ("exactly one Arrow-batched kernel (one MapInPandas node)",
         lambda t: n_nodes(t, "MapInPandas") == 1),
        ("salted exchange before the kernel", r"hashpartitioning\(pmod"),
        ("no persist (no InMemoryTableScan), no span-chunk Window, no Union",
         lambda t: all(op not in t for op in
                       ("InMemoryTableScan", "Window", "Union"))),
        ("exactly one parquet scan", one_scan),
    ])

    topk = QUERIES["sim_cosine_topk"](spark, SF)
    add("sim_cosine_topk — broadcast query side", topk, [
        ("queries broadcast (vectors never shuffle for the join)",
         r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("windowed rank", r"Window|RunningWindowFunction"),
    ])

    mh = QUERIES["dedup_minhash_lsh"](spark, SF)
    add("dedup_minhash_lsh — id-only band shuffle", mh, [
        ("band join is a hash join on band keys (broadcast at this SF)",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("no Python", lambda t: "EvalPython" not in t),
    ])

    ng = QUERIES["dedup_ngram_pairs"](spark, SF)
    add("dedup_ngram_pairs — hot-shingle cap guards the self-join", ng, [
        ("hot shingles removed via broadcast ANTI join (tiny hot set "
         "never shuffles the index)", r"BroadcastHashJoin[^\n]*LeftAnti"),
        ("candidate self-join is an equi hash join, not cartesian",
         lambda t: "CartesianProduct" not in t),
        ("no Python", lambda t: "EvalPython" not in t),
    ])

    el = QUERIES["dedup_embedding_lsh"](spark, SF)
    add("dedup_embedding_lsh — banded candidates, id-only shuffle", el, [
        ("band self-join is an equi hash join, not cartesian",
         lambda t: "CartesianProduct" not in t),
        ("signatures computed JVM-side (no Python anywhere)",
         lambda t: "EvalPython" not in t),
        ("exact-cosine verification joins vectors back by id",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
    ])

    sp = QUERIES["dedup_simhash_pairs"](spark, SF)
    add("dedup_simhash_pairs — 64-bit banded join (production width)", sp, [
        ("band self-join is an equi hash join, not cartesian",
         lambda t: "CartesianProduct" not in t),
        ("signatures computed JVM-side (no Python anywhere)",
         lambda t: "EvalPython" not in t),
        ("hamming verification joins signatures back by id",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
    ])

    from extract_text_spark.ingest import ingest_bytes_df
    from extract_text_spark.queries import _bytes_table
    byt = _bytes_table(
        spark.read.parquet(f"{SF}/documents.parquet"),
        lambda i, t, s: ("f.txt", t.encode("utf-8")))
    ing = ingest_bytes_df(byt)
    add("byte ingestion — one Arrow kernel, single scan", ing, [
        ("exactly one parquet scan (double-occurrence negated)", one_scan),
        ("Arrow-batched kernels only (no row-at-a-time Python)",
         lambda t: "BatchEvalPython" not in t),
        ("MapInPandas present", r"MapInPandas"),
    ])

    ka = QUERIES["sim_kmeans_assign"](spark, SF)
    add("sim_kmeans_assign — zero-shuffle literal-codebook training "
        "assignment", ka, [
        ("the assignment is a pure projection over the scan: the ONLY "
         "exchange in the plan is the output sort's range partition "
         "(the former crossJoin + row_number argmin shuffled the "
         "k-times-inflated corpus per iteration)",
         lambda t: len(set(re.findall(r"Exchange(?:\w*)? \((\d+)\)",
                                      t.split("\n\n(1)")[0]))) == 1),
        ("no join anywhere: centroids ride the plan as literals",
         lambda t: "Join" not in t.split("\n\n(1)")[0]),
        ("no window/sort before the output ordering",
         lambda t: "Window" not in t.split("\n\n(1)")[0]),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    ann = QUERIES["sim_ann_kmeans"](spark, SF)
    add("sim_ann_kmeans — broadcast centroids + probes, clustered fine "
        "search", ann, [
        ("centroids/probes broadcast (vector table never shuffles "
         "for the search)", r"BroadcastExchange"),
        ("fine search is an equi join on cluster id", r"BroadcastHashJoin"),
        ("windowed top-k", r"Window"),
    ])

    pr = QUERIES["host_pagerank"](spark, SF)
    add("host_pagerank — join+aggregate power iteration, no driver state",
        pr, [
        ("rank transfer is an equi-join of ranks onto edges (host keys)",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("inbound mass is a map-side-combined sum before the host shuffle",
         r"partial_sum|HashAggregate"),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("never cartesian", lambda t: "CartesianProduct" not in t),
    ])

    uf = QUERIES["url_filter"](spark, SF)
    add("url_filter — broadcast blocklist, zero added shuffles", uf, [
        ("blocklist join is broadcast (the corpus never shuffles "
         "for the domain check)", r"BroadcastHashJoin"),
        ("no Python anywhere (parse_url + literal word fold are "
         "pure Catalyst)",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("never cartesian", lambda t: "CartesianProduct" not in t),
        ("single scan of the input", one_scan),
    ])

    cls = QUERIES["ta_classifier"](spark, SF)
    add("ta_classifier — broadcast weights, combinable mean-logit", cls, [
        ("weight table broadcast onto the exploded features "
         "(the corpus never shuffles for the join)", r"BroadcastHashJoin"),
        ("map-side partial sum/count before the doc_id shuffle",
         r"partial_sum|HashAggregate"),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("never cartesian", lambda t: "CartesianProduct" not in t),
    ])

    sdd = QUERIES["sim_semdedup"](spark, SF)
    add("sim_semdedup — within-cluster pairs only, broadcast centroids", sdd, [
        ("duplicate candidates come from a join keyed on cluster id "
         "(never an all-pairs sweep over the corpus)",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("never cartesian (clustering bounds the pair work)",
         lambda t: "CartesianProduct" not in t),
        ("centroids broadcast for the rank scoring", r"BroadcastExchange"),
        ("ranked table persisted (self-join reads it twice)",
         r"InMemoryTableScan"),
        ("best-match pick is a combinable min-struct aggregate "
         "(partial before the exchange; sort-based since the struct "
         "carries the type-agnostic id tie-break)",
         r"partial_min|partial_max"),
        ("cluster-size cap rides the pair-join key (sub = rank slice): "
         "a degenerate mega-cluster can never form one O(c²) task",
         lambda t: "sub" in t and ("CartesianProduct" not in t)),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    bm = QUERIES["ta_bm25"](spark, SF)
    add("ta_bm25 — query-term filter at the scan, stats broadcast back", bm, [
        ("df/doc-length/corpus scalars broadcast back onto matches "
         "(the corpus itself never shuffles for the stats join)",
         r"BroadcastExchange"),
        ("tf aggregate is map-side partial before its exchange",
         r"partial_count|HashAggregate"),
        ("query-term membership filters BEFORE the tf aggregate "
         "(only matching tokens shuffle)",
         r"tok#\d+ IN \(join,filter,window\)"),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("never cartesian (the two scalar cross joins are broadcast "
         "single-row)", lambda t: "CartesianProduct" not in t),
    ])

    sp = QUERIES["sample_split"](spark, SF)
    add("sample_split — in-row assignment, zero joins", sp, [
        ("split assignment is pure row-local expression work: no join "
         "anywhere in the plan",
         lambda t: "Join" not in t),
        ("single exchange total (the verification groupBy) — the "
         "assignment itself adds none",
         lambda t: len(re.findall(r"Exchange \(\d+\)", t)) <= 2),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    pd_ = QUERIES["dedup_paragraphs"](spark, SF)
    add("dedup_paragraphs — combinable first-occurrence aggregate", pd_, [
        ("map-side partial min(struct) before the hash shuffle "
         "(hot boilerplate absorbed)", r"partial_min|HashAggregate"),
        ("keep-join is an equi-join on the paragraph md5",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("adaptive execution enabled", r"AdaptiveSparkPlan"),
    ])

    ss = QUERIES["dedup_substring"](spark, SF)
    add("dedup_substring — combinable window-hash aggregate, linear mask", ss, [
        ("map-side partial min(struct)/count on the window md5 "
         "(hot windows absorbed before the shuffle)",
         r"partial_min|HashAggregate"),
        ("flag join is an equi-join on the uniform window hash",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("no Python anywhere (mask is k zip_with passes, pure codegen)",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("never cartesian", lambda t: "CartesianProduct" not in t),
        ("adaptive execution enabled", r"AdaptiveSparkPlan"),
    ])

    inc = QUERIES["dedup_incremental"](spark, SF)
    add("dedup_incremental — new-vs-snapshot only, id-only band join", inc, [
        ("cross-side band join is an equi hash join on band keys",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("never cartesian (no all-pairs fallback)",
         lambda t: "CartesianProduct" not in t),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    rar = QUERIES["ta_rarity"](spark, SF)
    add("ta_rarity — broadcast vocabulary, combinable aggregates", rar, [
        ("unigram counts broadcast back onto the exploded tokens "
         "(the corpus never shuffles for the join)", r"BroadcastHashJoin"),
        ("N_total rides a broadcast single-row join, not a collect",
         r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("map-side partial aggregation before each shuffle",
         r"HashAggregate"),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    c4 = QUERIES["ta_c4"](spark, SF)
    add("ta_c4 — single scan, in-row HOFs, zero added shuffles", c4, [
        ("exactly one parquet scan", one_scan),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("only the final orderBy exchanges",
         lambda t: t.count("Exchange") <= 2),
    ])

    gop = QUERIES["ta_gopher"](spark, SF)
    add("ta_gopher — single scan, in-row HOFs, zero added shuffles", gop, [
        ("exactly one parquet scan", one_scan),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("only the final orderBy exchanges",
         lambda t: t.count("Exchange") <= 2),
    ])

    pii = QUERIES["ta_pii_scrub"](spark, SF)
    add("ta_pii_scrub — pure codegen regex passes", pii, [
        ("exactly one parquet scan", one_scan),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("regex passes fuse into Projects directly over the scan "
         "(no extra stages)", r"Project \(\d\)\n\s*\+- Scan parquet"),
    ])

    pk = QUERIES["pack_batches"](spark, SF)
    add("pack_batches — bucketed packing, one shuffle + in-partition sort",
        pk, [
        ("window partitioned by pack_bucket (parallel per-bucket packing, "
         "never a global single-partition sort)",
         r"Window.*pack_bucket|hashpartitioning\(pack_bucket"),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    ui = QUERIES["ext_url_images"](spark, SF)
    add("ext_url_images — one URL kernel, fan-out + extraction shared "
        "downstream", ui, [
        ("single scan of the input (one-pass extraction plan)", one_scan),
        ("Arrow-batched kernels only (no row-at-a-time Python)",
         lambda t: "BatchEvalPython" not in t),
        ("MapInPandas present", r"MapInPandas"),
    ])

    rz = QUERIES["ext_rar7z_fanout"](spark, SF)
    add("ext_rar7z_fanout — vendored readers inside the single ingest "
        "kernel, JVM-only fan-out", rz, [
        ("single scan of the input (one-pass extraction plan)", one_scan),
        ("Arrow-batched kernels only (no row-at-a-time Python)",
         lambda t: "BatchEvalPython" not in t),
        ("MapInPandas present", r"MapInPandas"),
    ])

    tv = QUERIES["ta_vocab"](spark, SF)
    add("ta_vocab — corpus top-k without a global sort", tv, [
        ("map-side partial count before the token shuffle",
         r"partial_count|HashAggregate"),
        ("top-k via TakeOrderedAndProject (no global sort)",
         r"TakeOrderedAndProject"),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    du = QUERIES["dedup_url"](spark, SF)
    add("dedup_url — canonical-key exact dedup", du, [
        ("map-side partial min/count before the canonical-key shuffle",
         r"partial_min|HashAggregate"),
        ("canonicalization is pure codegen (no Python anywhere)",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    samp = QUERIES["sample_stratified"](spark, SF)
    add("sample_stratified — membership filter before any exchange", samp, [
        ("filter sits directly on the scan (reject set never shuffles)",
         r"Filter"),
        ("map-side partial aggregate of the per-stratum stats",
         r"partial_count|HashAggregate"),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    mix = QUERIES["sample_mixture"](spark, SF)
    add("sample_mixture — broadcast source counts, filter at the scan", mix, [
        ("per-source counts broadcast back (never a shuffled join)",
         r"BroadcastHashJoin|BroadcastExchange"),
        ("map-side partial count per source before its tiny shuffle",
         r"partial_count|HashAggregate"),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    mc = QUERIES["ext_main_content"](spark, SF)
    add("ext_main_content — heuristic kernel inside the standard "
        "extraction pipeline", mc, [
        ("exactly one Python kernel (1 MapInPandas node)",
         lambda t: n_nodes(t, "MapInPandas") == 1),
        ("page synthesis is pure codegen (concat/when before the kernel)",
         lambda t: "BatchEvalPython" not in t),
        ("no skew-split machinery (no span-chunk Window, no Union)",
         lambda t: "Window" not in t and "Union" not in t),
        ("single scan of the documents table", one_scan),
    ])

    ag = QUERIES["ext_archive_guards"](spark, SF)
    add("ext_archive_guards — guards inside the once-run, cached ingest "
        "kernel; JVM fan-out", ag, [
        ("3 MapInPandas nodes: fixture generator + ingest (cached) + "
         "one extraction kernel",
         lambda t: n_nodes(t, "MapInPandas") == 3),
        ("the extraction reads the cached ingest once (one "
         "InMemoryTableScan)",
         lambda t: n_nodes(t, "InMemoryTableScan") == 1),
        ("exactly one parquet scan node of documents feeds everything",
         lambda t: n_nodes(t, "Scan parquet") == 1),
        ("nested-member fan-out is JVM-only (Generate explode, no "
         "Python between kernels)",
         lambda t: "Generate" in t and "BatchEvalPython" not in t),
    ])

    from pyspark.sql import functions as Fn
    from extract_text_spark.functions.dedup import bloom_snapshot_filter
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    snap = docs.filter(Fn.pmod("doc_id", Fn.lit(3)) == 0).select("text")
    bl = bloom_snapshot_filter(docs, snap, m_bits=480, k=4)
    add("bloom_snapshot_filter (literal form) — membership with ZERO "
        "shuffle", bl, [
        ("no Exchange anywhere: membership is a scan-side projection "
         "over the literal packed-word array",
         lambda t: "Exchange" not in t),
        ("no Python stage (pure conv/md5/bitwise codegen)",
         lambda t: "MapInPandas" not in t and "BatchEvalPython" not in t),
        ("single scan of the corpus",
         lambda t: n_nodes(t, "Scan parquet") == 1),
    ])

    ds = QUERIES["sample_dsir"](spark, SF)
    add("sample_dsir — broadcast weight table, combinable per-doc mean",
        ds, [
        ("weight join is broadcast (the corpus features never shuffle "
         "for it)", lambda t: "BroadcastHashJoin" in t),
        ("map-side partial aggregation before the per-doc shuffle",
         lambda t: t.count("HashAggregate") >= 2),
        ("no Python stage (feature hashing is codegen)",
         lambda t: "MapInPandas" not in t and "BatchEvalPython" not in t),
    ])

    wq = QUERIES["ext_warc_source"](spark, SF)
    add("ext_warc_source — WARC split + routing in the cached ingest "
        "kernel; shared extraction tail", wq, [
        ("3 MapInPandas nodes: fixture generator + WARC ingest (cached) + "
         "one extraction kernel",
         lambda t: n_nodes(t, "MapInPandas") == 3),
        ("the extraction reads the cached ingest once (one "
         "InMemoryTableScan)",
         lambda t: n_nodes(t, "InMemoryTableScan") == 1),
        ("record fan-out happens inside the kernel — no Python between "
         "kernels", lambda t: "BatchEvalPython" not in t),
    ])

    bp = QUERIES["ta_bpe"](spark, SF)
    add("ta_bpe — one Arrow kernel, no shuffle before it", bp, [
        ("exactly one MapInPandas (the merge loop)",
         lambda t: n_nodes(t, "MapInPandas") == 1),
        ("no Exchange before the kernel (partition-preserving encode; "
         "the only exchange is the output orderBy's range partition)",
         lambda t: len(set(re.findall(r"Exchange(?:\w*)? \((\d+)\)",
                                      t))) == 1),
    ])

    from extract_text_spark.functions import text_stats as _ts
    from pyspark.sql import functions as _F
    _bw = _ts._bpe_words(spark.read.parquet(SF + "/documents.parquet"), "text")
    bt = (_ts._bpe_pairs(_bw).orderBy(_F.desc("cnt"), "l", "r").limit(1))
    add("ta_bpe_train — one training round (pair count + argmax)", bt, [
        ("the corpus is scanned once (everything later touches only "
         "the distinct-word table)",
         lambda t: n_nodes(t, "Scan parquet") == 1),
        ("pair counts are map-side partial aggregates before their "
         "exchange (both the word-freq and the pair groupBy)",
         lambda t: t.count("partial_count") + t.count("partial_sum") >= 2),
        ("the argmax pair is TakeOrderedAndProject — no global sort of "
         "the pair table ever materializes",
         r"TakeOrderedAndProject"),
        ("no Python anywhere in training",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    lm = QUERIES["ta_lm_backoff"](spark, SF)
    add("ta_lm_backoff — broadcast unigrams, uniform-key bigram join",
        lm, [
        ("unigram count tables broadcast onto the transitions (the "
         "corpus never shuffles for the w1/w2 lookups)",
         r"BroadcastHashJoin"),
        ("count aggregates are map-side partial before their exchange",
         lambda t: t.count("partial_count") >= 2),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("never cartesian (the N scalar rides a broadcast single-row)",
         lambda t: "CartesianProduct" not in t),
    ])

    pq = QUERIES["sim_pq"](spark, SF)
    add("sim_pq — literal codebooks, broadcast query distance tables",
        pq, [
        ("the query side (with its per-query ADC distance tables) is "
         "broadcast — the code table never shuffles for the search",
         r"BroadcastExchange|BroadcastNestedLoopJoin"),
        ("top-k is a windowed rank over per-query partitions",
         r"Window|RunningWindowFunction"),
        ("no Python anywhere (encode + ADC are pure projections)",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    pqc = QUERIES["sim_pq_codes"](spark, SF)
    add("sim_pq_codes — zero-shuffle scan-side encoding", pqc, [
        ("no join anywhere: the codebook rides the plan as literals",
         lambda t: "Join" not in t),
        ("the only exchange is the output sort's range partition",
         lambda t: len(set(re.findall(r"Exchange(?:\w*)? \((\d+)\)",
                                      t))) == 1),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
    ])

    wt = QUERIES["ext_wat_export"](spark, SF)
    add("ext_wat_export — write kernel + verify kernel, no shuffle "
        "between", wt, [
        ("single scan of the documents table", one_scan),
        ("exactly two Arrow kernels (the WAT writer and the round-trip "
         "verifier), no row-at-a-time Python",
         lambda t: n_nodes(t, "MapInPandas") == 2
         and "BatchEvalPython" not in t),
        ("the only exchange is the output sort's range partition "
         "(records never shuffle between write and verify)",
         lambda t: len(set(re.findall(r"Exchange(?:\w*)? \((\d+)\)",
                                      t))) == 1),
    ])

    cb = QUERIES["ta_ccnet_buckets"](spark, SF)
    add("ta_ccnet_buckets — distribution cuts broadcast back", cb, [
        ("the cut row broadcasts onto the scored corpus (assignment "
         "never shuffles the corpus)", r"BroadcastExchange"),
        ("the cumulative walk runs over the distinct-score table "
         "(a Window after a score groupBy, not over corpus rows)",
         lambda t: "Window" in t and "HashAggregate" in t),
        ("no Python anywhere",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("never cartesian (the scalar cross joins are broadcast "
         "single-row)", lambda t: "CartesianProduct" not in t),
    ])

    sm = QUERIES["url_sitemaps"](spark, SF)
    add("url_sitemaps — scan-side directive extraction", sm, [
        ("single scan of the robots source", one_scan),
        ("no Python anywhere (split/posexplode/regexp are Catalyst)",
         lambda t: "BatchEvalPython" not in t and "MapInPandas" not in t),
        ("no join or aggregate — pure generate+filter projection",
         lambda t: "Join" not in t and "HashAggregate" not in t),
        ("the only exchange is the output sort's range partition",
         lambda t: len(set(re.findall(r"Exchange(?:\w*)? \((\d+)\)",
                                      t))) == 1),
    ])

    cf = QUERIES["crawl_frontier"](spark, SF)
    add("crawl_frontier — canonicalize, dedup, robots-gate, compose", cf, [
        ("canonicalization + dedup is one map-side-combined groupBy on "
         "the canonical key", lambda t: t.count("HashAggregate") >= 2),
        ("the robots table is broadcast (the frontier never shuffles "
         "for the gate)", r"BroadcastExchange"),
        ("one Arrow kernel for the RFC 9309 evaluation",
         lambda t: n_nodes(t, "MapInPandas") == 1),
        ("single scan of the documents table",
         lambda t: n_nodes(t, "Scan parquet") == 1),
    ])

    header = (
        "# PLANS — physical-plan evidence (generated by tools/dump_plans.py)\n\n"
        "Each section asserts the plan properties the engine's scale story\n"
        "depends on; checkboxes are verified against `explain('formatted')`\n"
        f"output at {SF} on every regeneration.\n\n"
    )
    with open("/root/repo/PLANS.md", "w") as fh:
        fh.write(header + "\n".join(sections))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
