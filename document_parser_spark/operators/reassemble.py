"""Ordered document reassembly — THE load-bearing shuffle (SURVEY.md §2.4 A1).

``posexplode`` is the Spark analogue of the reference's ``iterate_items()``
tree walk (pdf_parser.py:53); this operator is the inverse: collect every
parsed span of a document back into one ordered array. Order is carried
exclusively by the ``(ord0, ord1)`` key inside the collected struct — never by
row order, which no shuffle preserves.

Skew handling (north_rule): giant documents are salted across
``salt_buckets`` partial groups (two-phase collect), so a single hot doc_id
cannot pin one reducer's shuffle fetch: phase 1 groups by (doc_id, salt) with
map-side partial aggregation; phase 2 merges the K partial arrays per doc and
sorts ONCE after flatten (``array_sort(flatten(collect_list(part)))`` —
provably order-restoring because the sort key is inside each element).

Salting is ADAPTIVE: always-on two-phase costs ~1.6x on ordinary
distributions (a second full shuffle of every span, while the final merge
of a hot doc is one task either way — PRIOR_ROUNDS.md), so only the HOT
docs take the salted path. This module owns the hot-set policy for the
whole plan: ``collect_hot_ids`` makes the one bounded driver collect of
the giant ids, and ``with_hot_flag`` turns that list into a per-row
boolean for both of its consumers, this reassembly and the pdf per-page
fork (``plans.pipeline.parse_all_branches``). Three cases:

  * no hot docs: neither consumer calls the helper — single-phase
    collect, doc-level pdf kernel;
  * an id list: the flag is an ``isin`` literal up to ``_ISIN_MAX`` ids,
    else a broadcast LocalRelation left join (local data, no lineage
    re-evaluation);
  * overflow (more than ``_HOT_ID_CAP`` ids — the list is then a
    truncated, unordered sample): every doc is hot, i.e. unconditional
    two-phase and every pdf doc paged.

``salt_threshold=None`` forces two-phase for all docs (the round-1
behavior); ``salted=False`` disables salting entirely. The output array for
a W-span doc is ~60*W bytes in ONE row regardless of salting — cap spans/doc
at ingest (SURVEY §7.3.4); measured here: 16M-span docs exceed a 24 GB heap
in Collect.serialize either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from document_parser_spark.config import DEFAULT_SALT_BUCKETS
from document_parser_spark.schema import FAIL_KIND

DOC_MARKER_KIND = "__doc__"
_META_KINDS = (FAIL_KIND, DOC_MARKER_KIND)

# ~20 B/id: the cap costs <= ~20 MB driver memory; above it the corpus
# is so skew-ridden that treating every doc as hot is the right plan
# anyway. _ISIN_MAX keeps the literal IN-list small enough for codegen.
_HOT_ID_CAP = 1_000_000
_ISIN_MAX = 1_024

HOT_COL = "_hot"


def collect_hot_ids(hot_docs: DataFrame) -> list:
    """The hot set's one driver collect: the ``doc_id`` column of
    ``hot_docs``, bounded at ``_HOT_ID_CAP + 1`` ids (a longer list
    means overflow). When the hot_docs lineage constant-folds to empty
    (e.g. a ``lit('s')`` size_bucket), Spark serves it from the
    LocalRelation WITHOUT launching a job."""
    return [r[0] for r in hot_docs.limit(_HOT_ID_CAP + 1).collect()]


def with_hot_flag(df: DataFrame, hot_ids: list) -> DataFrame:
    """``df`` (keyed by ``doc_id``) plus a non-NULL boolean ``HOT_COL``:
    every row on overflow, else doc_id in ``hot_ids`` (an ``isin``
    literal up to ``_ISIN_MAX`` ids, a broadcast join above)."""
    if len(hot_ids) > _HOT_ID_CAP:
        return df.withColumn(HOT_COL, F.lit(True))
    if len(hot_ids) <= _ISIN_MAX:
        return df.withColumn(HOT_COL, F.coalesce(
            F.col("doc_id").isin(list(hot_ids)), F.lit(False)))
    ids = (df.sparkSession.createDataFrame(
        [(i,) for i in hot_ids], "doc_id string")
        .withColumn(HOT_COL, F.lit(True)))
    return (df.join(F.broadcast(ids), "doc_id", "left")
            .withColumn(HOT_COL, F.coalesce(F.col(HOT_COL), F.lit(False))))


def _item() -> F.Column:
    return F.struct(
        F.col("ord0"), F.col("ord1"), F.col("kind"),
        F.col("text"), F.col("media_ref"),
    )


def _two_phase(parsed: DataFrame, salt_buckets: int,
               salt_expr: F.Column | None = None) -> DataFrame:
    salt = (salt_expr if salt_expr is not None
            else F.pmod(F.hash("ord0", "ord1"), F.lit(salt_buckets)))
    part = (
        parsed
        .groupBy("doc_id", salt.alias("_salt"))
        .agg(F.collect_list(_item()).alias("part"))
    )
    return part.groupBy("doc_id").agg(
        F.array_sort(F.flatten(F.collect_list("part"))).alias("items"))


def _single_phase(parsed: DataFrame) -> DataFrame:
    return parsed.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(_item())).alias("items"))


def reassemble(parsed: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS,
               salted: bool = True,
               salt_threshold: int | None = None,
               hot_ids: list | None = None) -> DataFrame:
    """PARSED_SCHEMA rows -> (doc_id, spans array<struct> in reading order
    with offsets renumbered 0..n-1, n_failures).

    ``salt_threshold``: None salts every doc (the always-salt mode);
    otherwise the plan follows ``hot_ids``, the list ``collect_hot_ids``
    returned for docs above the threshold (module docstring):

      * no hot docs (None or empty): pure single-phase collect. ONE
        exchange; Spark's map-side ``partial_collect_list`` already
        provides the partial-combine role, so an explicit second phase
        would be a pure extra exchange of all span data.
      * hot docs: ONE plan tree where the phase-1 key is
        ``CASE hot THEN pmod(hash(ord0, ord1), K) ELSE 0`` — hot docs
        spread over K partial collects, cold docs ride along with a
        constant salt. The parsed relation is consumed exactly once (no
        hot/cold plan fork — a fork duplicates the upstream UDF parse
        subtree). On overflow ``hot`` is constant true, so this is
        unconditional two-phase.

    Fail rows (kind='__fail__') and per-doc presence markers
    (kind='__doc__', emitted so that fully-filtered docs still surface
    with status 'empty') are tallied/stripped here.
    """
    if not salted or salt_buckets <= 1 or (
            salt_threshold is not None and not hot_ids):
        docs = _single_phase(parsed)
    elif salt_threshold is None:
        docs = _two_phase(parsed, salt_buckets)
    else:
        bucket_salt = F.pmod(F.hash("ord0", "ord1"), F.lit(salt_buckets))
        docs = _two_phase(with_hot_flag(parsed, hot_ids), salt_buckets,
                          salt_expr=F.when(F.col(HOT_COL), bucket_salt)
                          .otherwise(F.lit(0)))

    meta = F.array(*[F.lit(k) for k in _META_KINDS])
    return docs.select(
        "doc_id",
        F.transform(
            F.filter("items", lambda x: ~F.array_contains(meta, x["kind"])),
            lambda x, i: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).alias("spans"),
        F.size(F.filter("items", lambda x: x["kind"] == FAIL_KIND))
        .cast("long").alias("n_failures"),
    )
