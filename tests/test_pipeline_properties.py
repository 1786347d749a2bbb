"""Property tests (SURVEY.md §5.4): reassembly order invariants under
salting, partitioning, and input-row permutation; oracle parity on a sample
of the generated scale corpus (families the goldens don't hand-cover)."""

import pytest
from pyspark.sql import functions as F

from document_parser_spark.refparser.parse import parse_document
from document_parser_spark.sources.synth import generate_doc, synth_dataframe

N_SAMPLE = 60


def _collect(df):
    rows = df.collect()
    return {
        r["doc_id"]: (
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
            r["markdown"], r["status"], r["n_failures"],
        )
        for r in rows
    }


@pytest.fixture(scope="module")
def synth_df(spark):
    return synth_dataframe(spark, N_SAMPLE, partitions=4).cache()


def test_synth_corpus_matches_oracle(spark, synth_df):
    """Pipeline == oracle on generated docs (html/pdf/mixed/text mix with
    dirty text injections)."""
    from document_parser_spark.plans.pipeline import extract

    got = _collect(extract(synth_df))
    assert len(got) == N_SAMPLE
    for idx in range(N_SAMPLE):
        doc_id, spans, _, _ = generate_doc(idx)
        want = parse_document(doc_id, spans)
        assert got[doc_id][0] == want.spans, doc_id
        assert got[doc_id][1] == want.markdown, doc_id
        assert got[doc_id][2] == want.status, doc_id


def test_null_kind_and_null_text_spans_never_vanish(spark):
    """r3 ADVICE: SQL three-valued logic must not silently drop a span
    with NULL kind or NULL text from both parse arms. Contract: NULL
    kind -> FAIL arm (A4 failure row, status parse_failure); NULL text
    on a text span -> the explicit P3 blank drop (doc survives, status
    reflects remaining spans)."""
    from document_parser_spark.plans.pipeline import extract

    schema = ("doc_id string, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>")
    rows = [
        ("nk", [(None, "orphan payload", "", 0),
                ("text", "real content here", "", 1)]),
        ("nt", [("text", None, "", 0),
                ("text", "surviving text", "", 1)]),
        ("nt-only", [("text", None, "", 0)]),
    ]
    got = _collect(extract(spark.createDataFrame(rows, schema)))
    # NULL kind = unknown kind -> parse-failure row, tallied not lost
    assert got["nk"][3] == 1 and got["nk"][2] == "parse_failure"
    assert [s[1] for s in got["nk"][0]] == ["real content here"]
    # NULL text -> blank-skip semantics (P3): no failure, span dropped
    assert got["nt"][3] == 0 and got["nt"][2] == "ok"
    assert [s[1] for s in got["nt"][0]] == ["surviving text"]
    # a doc whose only span is NULL text still surfaces (empty marker)
    assert got["nt-only"][2] == "empty" and got["nt-only"][0] == []


def test_salted_equals_unsalted(spark, synth_df, monkeypatch):
    """Every doc flagged giant and the hot-id cap below the doc count:
    extract takes the overflow plan (every doc hot — unconditional
    two-phase reassembly, every pdf doc paged), which must equal the
    unsalted plan."""
    from document_parser_spark.config import GIANT_SIZE_BUCKET
    from document_parser_spark.operators import reassemble as rmod
    from document_parser_spark.plans.pipeline import extract

    giants = synth_df.withColumn("size_bucket", F.lit(GIANT_SIZE_BUCKET))
    monkeypatch.setattr(rmod, "_HOT_ID_CAP", N_SAMPLE - 1)
    salted_df = extract(giants, salt_buckets=7)
    optimized = salted_df._jdf.queryExecution().optimizedPlan().toString()
    assert "pmod" in optimized and "FlatMapGroupsInPandas" in optimized
    salted = _collect(salted_df)
    unsalted = _collect(extract(synth_df))
    assert salted == unsalted


def test_partitioning_invariance(spark):
    """Union of per-partition outputs == single-partition output."""
    from document_parser_spark.plans.pipeline import extract

    one = _collect(extract(synth_dataframe(spark, 30, partitions=1)))
    many = _collect(extract(synth_dataframe(spark, 30, partitions=13)
                            .repartition(13)))
    assert one == many


def test_input_span_order_permutation(spark):
    """Span order inside the input array must not matter (order is carried by
    `offset`, the only order carrier after any shuffle)."""
    from document_parser_spark.plans.pipeline import extract

    df = synth_dataframe(spark, 20, partitions=2)
    shuffled = df.withColumn("spans", F.reverse("spans"))
    assert _collect(extract(df)) == _collect(extract(shuffled))


def test_determinism(spark, synth_df):
    from document_parser_spark.plans.pipeline import extract

    assert _collect(extract(synth_df)) == _collect(extract(synth_df))


def test_adaptive_salting_equals_unsalted(spark, synth_df):
    """Adaptive mode (CASE-salted two-phase engaged by the ingest
    giant bucket) must produce identical output: flag a subset of
    docs as giant so the hot path actually runs."""
    from pyspark.sql import functions as F

    from document_parser_spark.config import GIANT_SIZE_BUCKET
    from document_parser_spark.plans.pipeline import extract
    tagged = synth_df.withColumn(
        "size_bucket",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 0,
               F.lit(GIANT_SIZE_BUCKET)).otherwise(F.col("size_bucket")))
    adaptive = _collect(extract(tagged, salt_buckets=5))
    unsalted = _collect(extract(synth_df))
    assert adaptive == unsalted


def test_adaptive_salting_no_giants_single_phase(spark, synth_df):
    """Without giant-bucket docs the probe must pick the single-phase
    plan — output still identical."""
    from document_parser_spark.plans.pipeline import extract
    adaptive = _collect(extract(synth_df))
    unsalted = _collect(extract(synth_df.drop("size_bucket")))
    assert adaptive == unsalted
