"""Physical-plan audits (SURVEY §4): the optimizations we rely on at
100 TB must be visible in the plan at any scale — filter/column
pushdown to the parquet scan, broadcast joins for small sides, no
cartesian products anywhere, whole-stage codegen on the hot path,
map-side partial aggregation before the reassembly shuffle.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import DataFrame, functions as F

SF = "/root/testdata/sf0.001"


def plan(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def tag_giants(df: DataFrame, *giants: str) -> DataFrame:
    """Flag ``giants`` the way ingest does (size_bucket 'g'), every
    other doc 's'."""
    from document_parser_spark.config import GIANT_SIZE_BUCKET
    return df.withColumn("size_bucket", F.when(
        F.col("doc_id").isin(list(giants)), F.lit(GIANT_SIZE_BUCKET))
        .otherwise(F.lit("s")))


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as m
    return m


def test_scan_column_pruning(spark, entry):
    """token_stats touches only doc_id+text -> ReadSchema must not
    include lang/source/n_chars."""
    from document_parser_spark.ops.textstats import token_stats
    p = plan(token_stats(spark.read.parquet(f"{SF}/documents.parquet")))
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "lang" not in rs[0] and "source" not in rs[0]


def test_filter_pushdown_to_scan(spark):
    df = (spark.read.parquet(f"{SF}/documents.parquet")
          .filter(F.col("doc_id") == 7).select("doc_id", "n_chars"))
    p = plan(df)
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "IsNotNull(doc_id)" in pushed[0] \
        and "EqualTo(doc_id,7)" in pushed[0]


def test_j1_join_is_broadcast(spark, entry):
    p = plan(entry.queries()["j1_enrichment_join"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


# queries whose plan deliberately carries a ONE-ROW broadcast cross
# join (a bounded lookup array shipped to every task, replacing a
# doc-keyed shuffle with an in-row filter — SCALE.md §5). Any OTHER
# broadcast-nested-loop is still a bug.
_ONE_ROW_BROADCAST_OK = {"interleave_image_boilerplate"}


def test_no_cartesian_products_anywhere(spark, entry):
    """Every contract query must avoid cross joins — candidate
    generation is always an equi-join on a derived key (the only
    exception is the documented 1-row broadcast lookup pattern)."""
    qs = entry.queries()
    for name, fn in qs.items():
        p = plan(fn(spark, SF), mode="simple")
        assert "CartesianProduct" not in p, name
        if name not in _ONE_ROW_BROADCAST_OK:
            assert "BroadcastNestedLoopJoin" not in p, name


def _generate_carry_violations(df: DataFrame) -> list[str]:
    """Every ``Generate`` in ``df``'s optimized plan that carries, to
    each of its output rows, a child column that is an array or map, or
    a string/binary its own generator reads. Either one is copied (or
    re-read by a projection above) once per generated row — quadratic
    in the exploded length."""
    bad = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName() != "Generate":
            continue
        read = node.generator().references()
        carried = node.requiredChildOutput()
        for i in range(carried.size()):
            col = carried.apply(i)
            kind = col.dataType().typeName()
            if kind in ("array", "map") or (
                    kind.split()[0] in ("string", "binary")
                    and read.contains(col)):
                bad.append(f"{col.name()}:{kind} under "
                           f"{node.generator().prettyName()}")
    return bad


def test_generators_carry_no_payload(spark, entry):
    """A generator projected next to a function of the array it
    explodes makes its Generate carry that array to every output row
    (the hot-pdf anchor, scores_with_weights' word count, the chunk
    slicer all measured quadratic). Audit extract with the per-page
    pdf fork engaged, every contract query, and scores_with_weights."""
    from document_parser_spark.config import GIANT_SIZE_BUCKET
    from document_parser_spark.ops.classify import scores_with_weights
    from document_parser_spark.plans.pipeline import extract
    from document_parser_spark.sources.synth import fixtures_dataframe

    paged = extract(fixtures_dataframe(spark).withColumn(
        "size_bucket", F.lit(GIANT_SIZE_BUCKET)))
    assert "FlatMapGroupsInPandas" in plan(paged, mode="simple")
    plans = {"extract(paged)": paged}
    for name, fn in entry.queries().items():
        plans[name] = fn(spark, SF)
    weights = spark.createDataFrame([(0, 1)], "bucket long, w_units long")
    plans["scores_with_weights"] = scores_with_weights(
        spark.read.parquet(f"{SF}/documents.parquet"), weights)
    bad = {name: v for name, df in plans.items()
           if (v := _generate_carry_violations(df))}
    assert not bad, bad


def test_extract_pipeline_shape(spark, entry):
    p = plan(entry.queries()["extract_pipeline"](spark, SF))
    # the one reassembly shuffle: partial aggregation runs map-side
    # before the exchange (two-phase salted collect)
    assert "partial_collect_list" in p
    # per-span kernels are Arrow-vectorized python stages
    assert "ArrowEvalPython" in p or "MapInPandas" in p
    # never row-at-a-time python
    assert "BatchEvalPython" not in p


def test_extract_scan_count(spark, entry):
    """Every union arm re-reads the input table, so arm count IS scan
    count at 100 TB. The fused r3 plan holds extract() to 4 scans —
    JVM arm, fused Python arm, pdf arm, doc_id-only marker — and ONE
    Python projection stage beyond the two mapInPandas parsers (the
    serializer). The r2 shape measured 10 scans / 7 ArrowEvalPython."""
    p = plan(entry.queries()["extract_pipeline"](spark, SF),
             mode="simple")
    assert p.count("FileScan") <= 4
    assert p.count("Exchange") == 1
    assert p.count("ArrowEvalPython") <= 1
    assert p.count("MapInPandas") <= 2


def test_jvm_stages_whole_stage_codegen(spark, entry):
    """With AQE off (AQE hides codegen markers until runtime), the
    scalar cleaning kernel (translate/concat — F5/F6) fuses into a
    codegen span ('*(n)' markers in simple mode). Array higher-order
    functions are interpreted-JVM by Spark design, so the stats
    queries only get codegen on their scan+project shell — asserted
    via the starred ColumnarToRow."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(entry.queries()["f6_clean_invisibles"](spark, SF),
                 mode="simple")
        assert "*(1)" in p        # whole-stage-codegen'd stage
        assert "translate" in p   # and the kernel is inside it
        from document_parser_spark.ops.textstats import token_stats
        p2 = plan(token_stats(
            spark.read.parquet(f"{SF}/documents.parquet")), mode="simple")
        assert "*(1)" in p2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_reassembly_salt_limits_shuffle_key(spark):
    """Salted reassembly: first exchange keyed by (doc_id, salt),
    final by doc_id only."""
    from document_parser_spark.operators.reassemble import reassemble
    from document_parser_spark.plans.pipeline import parse_all_branches
    from document_parser_spark.sources.synth import fixtures_dataframe
    parsed = parse_all_branches(fixtures_dataframe(spark))
    p = plan(reassemble(parsed, salt_buckets=8))
    # phase-1 exchange keyed by the salt expression (pmod(hash(...)))
    assert "pmod" in p
    assert "partial_collect_list" in p
    # two aggregation phases -> two exchanges (salted partial + final)
    assert p.count("Exchange") >= 2


def test_dedup_minhash_no_global_sort(spark, entry):
    """LSH pair generation must be pure hash-shuffle work — a global
    Sort would mean an accidental orderBy in the pipeline."""
    p = plan(entry.queries()["dedup_minhash_lsh"](spark, SF),
             mode="simple")
    assert "rangepartitioning" not in p.lower()


def test_extract_plan_build_launches_no_job(spark, entry):
    """Adaptive salting's hot-set decision must not cost a Spark job at
    plan-build time for the canonical driver shape (lit('s')
    size_bucket constant-folds the 'g' filter to an empty
    LocalRelation, served driver-side). r2 bench regression root
    cause: the old limit(1).count() probe re-ran the input derivation
    on every extract() call."""
    from document_parser_spark.plans.pipeline import extract
    docs = entry._span_docs(
        entry._tbl(spark, SF, "documents"))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    extract(docs)          # plan build only — no action
    assert dag.numTotalJobs() == before


def test_giant_bucket_engages_case_salt(spark):
    """A 'g'-flagged doc must route extract() to the CASE-salted
    two-phase tree (r2 ADVICE: no producer ever wrote 'g', so the
    protection was dead code) — and reassemble it exactly."""
    from document_parser_spark.plans.pipeline import extract
    from document_parser_spark.schema import DOCUMENTS_IN_SCHEMA
    rows = [{"doc_id": "hot", "host": "h", "size_bucket": "g",
             "spans": [{"kind": "text", "text": f"w{j}",
                        "media_ref": None, "offset": j}
                       for j in range(300)]},
            {"doc_id": "cold", "host": "h", "size_bucket": "s",
             "spans": [{"kind": "text", "text": "c", "media_ref": None,
                        "offset": 0}]}]
    df = spark.createDataFrame(rows, DOCUMENTS_IN_SCHEMA)
    out = extract(df)
    p = plan(out)
    assert "pmod" in p           # CASE-salt reached the phase-1 key
    got = {r.doc_id: r for r in out.collect()}
    assert [s["text"] for s in got["hot"].spans] \
        == [f"w{j}" for j in range(300)]
    assert [s["offset"] for s in got["hot"].spans] == list(range(300))
    assert len(got["cold"].spans) == 1


def test_hot_doc_fallback_never_reads_payload(spark, tmp_path):
    """r4 VERDICT #2: when the input lacks size_bucket, the hot-doc
    estimate used to fold length(text) over the whole spans payload —
    a second complete read of the biggest column at 100 TB. The
    count-only fallback must scan ONLY the spans.offset leaf (nested
    schema pruning) — ReadSchema without text/kind/media_ref."""
    from document_parser_spark.plans.pipeline import _hot_docs_fallback
    from document_parser_spark.schema import DOCUMENTS_IN_SCHEMA
    rows = [{"doc_id": "d", "host": "h", "size_bucket": "s",
             "spans": [{"kind": "text", "text": "payload",
                        "media_ref": None, "offset": 0}]}]
    path = str(tmp_path / "span_tbl")
    spark.createDataFrame(rows, DOCUMENTS_IN_SCHEMA).write.parquet(path)
    t = spark.read.parquet(path).drop("size_bucket")
    p = plan(_hot_docs_fallback(t, 100))
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs, p
    assert "offset" in rs[0], rs[0]
    assert "text" not in rs[0] and "media_ref" not in rs[0], rs[0]


def test_fallback_hot_doc_engages_case_salt(spark, monkeypatch):
    """No size_bucket column at all: the span-count fallback must still
    flag the giant doc, route extract() to the CASE-salted tree, and
    reassemble exactly (threshold lowered so a 300-span doc is giant)."""
    from document_parser_spark.plans import pipeline
    from document_parser_spark.plans.pipeline import extract
    monkeypatch.setattr(pipeline, "SALT_SPAN_THRESHOLD", 100)
    rows = [("hot", [(f"w{j}", j) for j in range(300)]),
            ("cold", [("c", 0)])]
    df = spark.createDataFrame(
        [(d, [{"kind": "text", "text": t, "media_ref": None, "offset": o}
              for t, o in spans]) for d, spans in rows],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    out = extract(df)
    p = plan(out)
    assert "pmod" in p           # CASE-salt reached the phase-1 key
    got = {r.doc_id: r for r in out.collect()}
    assert [s["text"] for s in got["hot"].spans] \
        == [f"w{j}" for j in range(300)]
    assert len(got["cold"].spans) == 1


def test_giant_pdf_doc_splits_per_page(spark):
    """r4 VERDICT #5 / SCALE.md §8: a pdf doc above the salt threshold
    must take the PER-PAGE parse path (applyInPandas groups of one
    page each — a 10^5-page doc can no longer pin one pandas group)
    with output exactly equal to the doc-level oracle, malformed-line
    tallies included; cold pdf docs keep the shuffle-free doc-level
    path in the same plan."""
    from document_parser_spark.plans.pipeline import extract
    from document_parser_spark.refparser.parse import parse_document

    def line(pg, ln):
        y1 = 90000 - ln * 1400
        h = 2600 if ln == 0 else 1000   # first line = oversize heading
        return f"{pg};1000;{y1 - h};30000;{y1}|p{pg} line {ln}"

    hot, off = [], 0
    for pg in range(1, 7):
        for ln in range(50):
            hot.append(("pdf_line", line(pg, ln), "", off))
            off += 1
        hot.append(("pdf_line", "garbage line", "", off))   # malformed
        off += 1
    cold = [("pdf_line", "1;1000;8000;9000;9000|cold doc text", "", 0),
            ("text", "plain paragraph", "", 1)]
    rows = [("hot", hot), ("cold", cold)]
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    out_df = extract(tag_giants(df, "hot"))
    p = plan(out_df, mode="simple")
    assert "FlatMapGroupsInPandas" in p      # the per-page kernel engaged
    got = {r.doc_id: r for r in out_df.collect()}
    for name, spans in rows:
        want = parse_document(name, spans)
        assert [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in got[name].spans] == want.spans, name
        assert got[name].markdown == want.markdown, name
        assert got[name].n_failures == want.n_failures, name
        assert got[name].status == want.status, name


def test_giant_pdf_coordinate_ties_break_in_span_order(spark):
    """Regression: the paged path's groupBy delivers lines in
    shuffle-arrival order, and the layout sort breaks coordinate ties
    by input order — so without the posexplode position riding along,
    coordinate-tied lines produced nondeterministic block text. Every
    line here shares one (page, coords) cell; output must equal the
    doc-level oracle (span order) exactly."""
    from document_parser_spark.plans.pipeline import extract
    from document_parser_spark.refparser.parse import parse_document

    hot = [("pdf_line", f"1;1000;8000;9000;9000|tied {i}", "", i)
           for i in range(150)]
    df = spark.createDataFrame(
        [("tied", hot)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    # many shuffle partitions maximize arrival-order scrambling
    out = extract(tag_giants(df, "tied")).collect()[0]
    want = parse_document("tied", hot)
    assert [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in out.spans] == want.spans
    assert out.markdown == want.markdown


def test_giant_pdf_all_null_offsets_does_not_throw(spark):
    """Regression (A4 never-throw): a hot pdf doc whose span offsets
    are all NULL made the paged kernel crash on int(NaN) anchor; the
    doc-level kernel defaults the anchor to 0, and the paged path must
    match it — same rows from both plan shapes, no task failure."""
    from document_parser_spark.plans.pipeline import extract

    spans = [("pdf_line", f"1;1000;{8000 - 100 * i};9000;"
              f"{9000 - 100 * i}|line {i}", "", None)
             for i in range(120)]
    df = spark.createDataFrame(
        [("nulloff", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    paged = extract(tag_giants(df, "nulloff")).collect()[0]
    doc_level = extract(tag_giants(df)).collect()[0]
    assert paged.status == doc_level.status == "ok"
    assert [tuple(s) for s in paged.spans] == \
        [tuple(s) for s in doc_level.spans]
    assert paged.markdown == doc_level.markdown


def test_pdf_mixed_null_offsets_does_not_throw(spark):
    """Regression (A4 never-throw): a NON-NULL offset followed by a
    NULL one crashed the DOC-LEVEL kernel's anchor scan (None < int
    TypeError -> task failure) while the paged path — whose JVM F.min
    ignores NULLs — returned ok for the same doc. Both plan shapes
    must agree: NULL offsets don't anchor, and the anchor falls back
    to the min of the non-NULL ones."""
    from document_parser_spark.plans.pipeline import extract

    spans = [("pdf_line", f"1;1000;{8000 - 100 * i};9000;"
              f"{9000 - 100 * i}|line {i}", "",
              7 if i == 0 else None)
             for i in range(120)]
    df = spark.createDataFrame(
        [("mixoff", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    paged = extract(tag_giants(df, "mixoff")).collect()[0]
    doc_level = extract(tag_giants(df)).collect()[0]
    assert paged.status == doc_level.status == "ok"
    assert [tuple(s) for s in paged.spans] == \
        [tuple(s) for s in doc_level.spans]
    assert paged.markdown == doc_level.markdown


def test_ingest_flags_giant_bucket(spark):
    """ingest_raw_text derives size_bucket from raw byte length:
    ordinary docs 's', pathological ones 'g'."""
    from document_parser_spark.config import (
        GIANT_SIZE_BUCKET,
        SALT_SPAN_THRESHOLD,
    )
    from document_parser_spark.sources.ingest import ingest_raw_text
    big = b"x" * (SALT_SPAN_THRESHOLD * 200 + 400)
    df = spark.createDataFrame(
        [("a", b"small doc"), ("b", big)], "doc_id string, content binary")
    got = {r.doc_id: r.size_bucket
           for r in ingest_raw_text(df).select(
               "doc_id", "size_bucket").collect()}
    assert got == {"a": "s", "b": GIANT_SIZE_BUCKET}


def test_detect_language_single_ratio_evaluation(spark):
    """r4 VERDICT #6: detect_language's per-language ratio must appear
    exactly once in the plan (materialized behind a Generate barrier,
    argmax CASE referencing columns) — the old inline chain duplicated
    each split+filter ratio up to twice per language."""
    from document_parser_spark.operators.enrich import detect_language
    from document_parser_spark.ops.textstats import LANG_ORDER
    docs = spark.createDataFrame(
        [("d", [("text", "the of and", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    p = plan(detect_language(docs))
    assert p.count("array_contains") == len(LANG_ORDER), p
    assert "Generate" in p


def test_ann_topk_partial_per_partition(spark):
    """Brute-force top-k: TakeOrderedAndProject (partial top-k per
    partition + merge), never a full Sort of all rows."""
    from document_parser_spark.ops.similarity import cosine_to_query
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [0.0] * 63 + [1.0]
    p = plan(cosine_to_query(emb, q, k=10))
    assert "TakeOrderedAndProject" in p


def test_asof_join_single_exchange(spark):
    """The as-of join is one hash exchange on the key (the union +
    window formulation) — no join-back, no range join, no cartesian."""
    from document_parser_spark.ops.temporal import asof_join
    ev = spark.read.parquet(f"{SF}/events.parquet")
    probes = (ev.filter(F.col("event_type") == "view")
              .select("event_id", "user_id", "ts"))
    refs = ev.filter(F.col("event_type") == "click")
    p = plan(asof_join(probes, refs), mode="simple")
    n_exchange = p.count("Exchange hashpartitioning")
    # one exchange feeds the per-key window; the reference-side
    # groupBy(key, ts) partial agg may add its own (same key prefix)
    assert 1 <= n_exchange <= 2, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_classifier_is_shuffle_free(spark):
    """The hashed-linear gate is a narrow map: no Exchange at all."""
    from document_parser_spark.ops.classify import hashed_linear_scores
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(hashed_linear_scores(docs))
    assert "Exchange" not in p, p


def test_chunking_is_shuffle_free(spark):
    """Sliding chunks are produced where the doc lives: a Generate
    (explode) but no Exchange."""
    from document_parser_spark.ops.chunking import sliding_chunks
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(sliding_chunks(docs))
    assert "Generate" in p and "Exchange" not in p, p


def test_covariance_reduce_is_bounded(spark):
    """The embedding moment fold reduces dim^2-scale rows: the plan
    is one ArrowEvalPython/MapInPandas pass + one hash aggregate —
    never a corpus-wide self-join."""
    from document_parser_spark.ops.embstats import covariance_entries
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan(covariance_entries(emb))
    assert "MapInPandas" in p or "mapInPandas" in p, p
    assert "CartesianProduct" not in p
    # mean assembly joins are broadcast (dim-row sides)
    assert "SortMergeJoin" not in p, p


def test_quantize_blocklist_winnow_shuffle_free(spark):
    """The three in-row ops added in round 3 are pure narrow maps:
    no Exchange anywhere in their plans."""
    from document_parser_spark.ops.embstats import quantize_int8
    from document_parser_spark.ops.textstats import (
        blocklist_stats, winnow_fingerprints)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for df in (quantize_int8(emb), blocklist_stats(docs),
               winnow_fingerprints(docs)):
        p = plan(df)
        assert "Exchange" not in p, p


def test_shuffle_order_bounded_window(spark):
    """The epoch-shuffle order uses the bucketed two-level scan: its
    window sort is partitioned by bucket (never a single global
    window) and the offset join is a broadcast."""
    from document_parser_spark.ops.packing import shuffle_order
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(shuffle_order(docs.select("doc_id"), buckets=64))
    assert "BroadcastHashJoin" in p, p
    assert "partitionBy=[bucket" in p.replace(" ", "") or \
        "hashpartitioning(bucket" in p, p


def test_vlm_mixed_null_offsets_does_not_throw(spark):
    """Regression (A4 never-throw): the VLM twin of the layout
    kernel's anchor scan had the same None < int crash on a non-NULL
    offset followed by a NULL one; NULL offsets never anchor, the
    anchor falls back to the min of the non-NULL ones."""
    from document_parser_spark.plans.pipeline import extract

    spans = [("pdf_line", f"1;1000;{8000 - 100 * i};9000;"
              f"{9000 - 100 * i}|line {i}", "",
              7 if i == 0 else None)
             for i in range(6)]
    df = spark.createDataFrame(
        [("vlmmix", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    out = extract(df, pdf_vlm=True).collect()[0]
    assert out.status == "ok"
    assert out.spans[0]["offset"] == 0


def test_hot_overflow_routes_pdf_fork_by_predicate(spark, monkeypatch):
    """Past _HOT_ID_CAP the collected hot-id list is a truncated,
    unordered sample — routing the pdf fork by it left the giants
    outside the sample on the whole-doc kernel (the OOM the per-page
    split exists to prevent). On overflow every pdf doc is paged,
    page-splitting EVERY giant, with rows equal to the doc-level
    oracle."""
    from document_parser_spark.operators import reassemble as rmod
    from document_parser_spark.plans import pipeline
    from document_parser_spark.refparser.parse import parse_document

    monkeypatch.setattr(rmod, "_HOT_ID_CAP", 1)

    def giant(name):
        return (name, [("pdf_line",
                        f"{1 + ln // 40};1000;{90000 - (ln % 40) * 1400};"
                        f"30000;{91000 - (ln % 40) * 1400}|{name} l{ln}",
                        "", ln) for ln in range(120)])

    rows = [giant("g1"), giant("g2"), giant("g3"),
            ("cold", [("pdf_line", "1;1000;8000;9000;9000|cold", "", 0)])]
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    out_df = pipeline.extract(tag_giants(df, "g1", "g2", "g3"))
    assert "FlatMapGroupsInPandas" in plan(out_df, mode="simple")
    got = {r.doc_id: r for r in out_df.collect()}
    for name, spans in rows:
        want = parse_document(name, spans)
        assert [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in got[name].spans] == want.spans, name
        assert got[name].markdown == want.markdown, name


def test_hot_set_past_isin_max_uses_broadcast_join(spark, monkeypatch):
    """Between _ISIN_MAX and _HOT_ID_CAP the hot set is too big for a
    codegen isin literal: the CASE-salt tag and the pdf per-page fork
    both switch to a broadcast LocalRelation join. That plan branch had
    no direct test — force it (_ISIN_MAX=1) and require bit-identical
    output to the isin-literal plan on the same input, pdf giants
    still page-split and oracle-exact."""
    from document_parser_spark.operators import reassemble as rmod
    from document_parser_spark.plans import pipeline
    from document_parser_spark.refparser.parse import parse_document

    def text_giant(name):
        return (name, [("text", f"{name} w{j}", None, j)
                       for j in range(300)])

    def pdf_giant(name):
        return (name, [("pdf_line",
                        f"{1 + ln // 40};1000;{90000 - (ln % 40) * 1400};"
                        f"30000;{91000 - (ln % 40) * 1400}|{name} l{ln}",
                        "", ln) for ln in range(120)])

    rows = [text_giant("t1"), text_giant("t2"), pdf_giant("p1"),
            ("cold", [("text", "cold body", None, 0)])]
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")

    def snap(out_df):
        return {r.doc_id: ([tuple(s) for s in r.spans], r.markdown,
                           r.status, r.n_failures)
                for r in out_df.collect()}

    df = tag_giants(df, "t1", "t2", "p1")
    baseline = snap(pipeline.extract(df))

    monkeypatch.setattr(rmod, "_ISIN_MAX", 1)
    out_df = pipeline.extract(df)
    p = plan(out_df, mode="simple")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoop" in p, p
    assert "FlatMapGroupsInPandas" in p      # pdf giant still page-split
    got = snap(out_df)
    assert got == baseline
    want = parse_document(*pdf_giant("p1"))
    spans, md, status, _ = got["p1"]
    assert spans == [tuple(s) for s in want.spans]
    assert md == want.markdown
