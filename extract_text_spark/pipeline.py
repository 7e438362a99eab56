"""The distributed extraction pipeline.

Stages (all declarative except the extraction kernel itself):

1. **Archive fan-out** — ≤3 bounded rounds of pure Catalyst ops
   (``from_json`` + ``explode`` + regexp path sanitation + guard filters),
   reproducing A1-A8 of SURVEY.md §2.3 JVM-side with no Python.
2. **Salted repartition** — ``repartition(pmod(xxhash64(doc_id), P))``
   spreads hot doc_ids; with P at several partitions per core, idle cores
   take the remaining tasks while an oversized document runs, and with
   AQE on, post-shuffle coalescing keeps small runs tight.
3. **Extraction kernel** — Arrow-batched ``mapInPandas`` (iterator form)
   running ``extractors.extract_document`` per row; never per-row Python
   UDFs, no driver-side collects.

That is the whole default plan: one scan, one kernel, no persist, no
window and no union.

**Opt-in skew split** (``skew_split=True``) — documents above
``SKEW_SPLIT_BYTES`` whose spans are all page-independent
(``pdf_page``/``media``) are split into span chunks (window-function
chunk ids that keep a media span glued to its preceding page), extracted
as independent rows, and reassembled order-preserving with
``collect_list``. Output is identical either way. On the benchmark's
corpora (page-only whales of about 4-6 MB at ``local[4]``) the chunk,
window and reassembly stages cost more than the stragglers they
removed, so the route is off by default; whether a 20 MB whale on more
cores needs it has not been measured. The streaming twins
(``streaming.stream``) take ``skew_split=True`` too; ``keep_root`` does
not combine with it.

The output schema is
``(doc_id, status, spans array<struct<kind,text,media_ref,offset>>,
n_spans, n_chars, bytes_in)``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from .config import (
    MAX_ARCHIVE_NESTING,
    MAX_EXTRACTED_SIZE,
    SKEW_CHUNK_SPANS,
    SKEW_SPLIT_BYTES,
)
from .extractors.archive import SYSTEM_FILE_MARKERS

if TYPE_CHECKING:
    import pandas as pd

SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])
SPANS_TYPE = ArrayType(SPAN_TYPE)
DOC_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", SPANS_TYPE),
])
OUT_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("status", StringType()),
    StructField("spans", SPANS_TYPE),
    StructField("n_spans", IntegerType()),
    StructField("n_chars", LongType()),
    StructField("bytes_in", LongType()),
])

_MEMBER_TYPE = StructType([
    StructField("path", StringType()),
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("is_archive", BooleanType()),
    StructField("members", StringType()),
])


def _sanitize_path_col(path: Column) -> Column:
    """A7 path sanitation as a regexp chain (app/extractors.py:1996-2014)."""
    p = F.regexp_replace(path, r"\.\.", "")
    p = F.regexp_replace(p, r"\\", "/")
    p = F.regexp_replace(p, r"^/+|/+$", "")
    parts = F.filter(F.split(p, "/"), lambda x: (x != "") & (x != F.lit(".")))
    return F.array_join(parts, "/")


def _is_system_file_col(path: Column) -> Column:
    """A8 substring blacklist (app/extractors.py:2016-2035)."""
    lowered = F.lower(path)
    cond = F.lit(False)
    for marker in SYSTEM_FILE_MARKERS:
        cond = cond | lowered.contains(marker)
    return cond


_DOC_STRUCT = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", SPANS_TYPE),
    StructField("status", StringType()),
])
_DOCS_TYPE = ArrayType(_DOC_STRUCT)
ARCHIVE_TOO_LARGE = "error: Archive content too large"


def _empty_docs() -> Column:
    return F.array().cast(_DOCS_TYPE.simpleString())


def _doc_struct(doc_id: Column, spans: Column, status: Column | None = None) -> Column:
    return F.struct(
        doc_id.alias("doc_id"),
        spans.cast(SPANS_TYPE.simpleString()).alias("spans"),
        (status if status is not None
         else F.lit(None).cast(StringType())).alias("status"),
    )


def _member_budget(members: Column) -> Column:
    """Zip-bomb guard sum (A2, app/extractors.py:1668-1677)."""
    return F.aggregate(
        members, F.lit(0).cast(LongType()),
        lambda acc, m: acc + F.coalesce(F.length(m.text), F.lit(0))
        + F.coalesce(F.length(m.members), F.lit(0)),
    )


def _with_paths(members: Column) -> Column:
    """Bind each member to its sanitized path ONCE. Catalyst does not CSE
    inside lambdas, so referencing _sanitize_path_col(m.path) repeatedly
    (empty-check, 9 system-file Contains, child id) would inline the whole
    regexp chain ~11x per member."""
    return F.transform(
        members,
        lambda m: F.struct(m.alias("m"), _sanitize_path_col(m.path).alias("path")),
    )


def _expand_member(parent_id: Column, mp: Column, depth: int) -> Column:
    """One (member, path) pair -> array<doc> (recursively inlined)."""
    m, path = mp.m, mp.path
    child_id = F.concat_ws("/", parent_id, path)
    leaf = F.array(_doc_struct(
        child_id,
        F.array(F.struct(
            m.kind.alias("kind"), m.text.alias("text"),
            m.media_ref.alias("media_ref"), F.lit(0).alias("offset"),
        )),
    ))
    is_nested = F.coalesce(m.is_archive, F.lit(False)) & m.members.isNotNull()
    if depth < MAX_ARCHIVE_NESTING:
        nested = _expand_archive(
            child_id, F.from_json(m.members, ArrayType(_MEMBER_TYPE)), depth + 1
        )
    else:
        # Past the nesting cap: keep the child with unexpanded
        # archive_member spans (the kernel drops them — the reference's
        # skip-on-depth, app/extractors.py:1580-1584).
        nested = F.array(_doc_struct(
            child_id,
            F.transform(
                F.from_json(m.members, ArrayType(_MEMBER_TYPE)),
                lambda mm, i: F.struct(
                    F.lit("archive_member").alias("kind"),
                    F.to_json(mm).alias("text"),
                    F.lit(None).cast(StringType()).alias("media_ref"),
                    i.cast(IntegerType()).alias("offset"),
                ),
            ),
        ))
    return (
        F.when((path == "") | _is_system_file_col(path), _empty_docs())
        .when(is_nested, nested)
        .otherwise(leaf)
    )


def _expand_archive(doc_id: Column, members: Column, depth: int) -> Column:
    """Parsed member list -> array<doc>, with the bomb guard per archive."""
    expanded = F.flatten(
        F.transform(_with_paths(members),
                    lambda mp: _expand_member(doc_id, mp, depth))
    )
    return F.when(
        _member_budget(members) > MAX_EXTRACTED_SIZE,
        F.array(_doc_struct(doc_id, F.array().cast(SPANS_TYPE.simpleString()),
                            F.lit(ARCHIVE_TOO_LARGE))),
    ).otherwise(expanded)


def explode_archives_df(df: DataFrame, with_root: bool = False) -> DataFrame:
    """A1-A6 archive fan-out in ONE scan: a single nested-transform
    expression computes every fan-out level (bounded depth 3) per row, then
    one ``posexplode`` emits the documents — no unions, no repeated scans.
    Path sanitation (A7), system-file filter (A8) and the 100 MB bomb guard
    (A2) are inlined as column predicates; guard-rejected rows surface with
    a non-null ``status``.

    ``with_root=True`` adds a ``root_id`` column carrying the pre-fan-out
    input doc_id (null when unchanged — i.e. for non-archive rows — so the
    mostly-null column shuffles for free). Checkpointing buckets by root so
    fan-out children land in their parent's bucket even when input doc_ids
    themselves contain ``/``.
    """
    if "status" not in df.columns:
        df = df.withColumn("status", F.lit(None).cast(StringType()))
    # Fail-closed on malformed rows: a null spans array would null-propagate
    # through the fan-out expression and the document would vanish from the
    # output silently; coalesce to empty so it surfaces as status='empty'.
    df = df.withColumn(
        "spans", F.coalesce("spans", F.array().cast(SPANS_TYPE.simpleString()))
    )

    arch = F.array_sort(
        F.filter("spans", lambda s: s.kind == F.lit("archive_member")),
        lambda a, b: F.when(a.offset < b.offset, -1)
                     .when(a.offset > b.offset, 1).otherwise(0),
    )
    rest = F.filter("spans", lambda s: s.kind != F.lit("archive_member"))
    members = F.transform(arch, lambda s: F.from_json(s.text, _MEMBER_TYPE))

    doc_id, status = F.col("doc_id"), F.col("status")
    passthrough = F.array(_doc_struct(doc_id, F.col("spans"), status))
    parent_part = F.when(
        F.size(rest) > 0, F.array(_doc_struct(doc_id, rest))
    ).otherwise(_empty_docs())
    fanned = F.when(
        _member_budget(members) > MAX_EXTRACTED_SIZE,
        F.array(_doc_struct(doc_id, F.array().cast(SPANS_TYPE.simpleString()),
                            F.lit(ARCHIVE_TOO_LARGE))),
    ).otherwise(
        F.concat(
            parent_part,
            F.flatten(F.transform(_with_paths(members),
                                  lambda mp: _expand_member(doc_id, mp, 1))),
        )
    )
    out_docs = F.when(
        (F.size(arch) == 0) | status.isNotNull(), passthrough
    ).otherwise(fanned)

    out = (
        df.select(F.col("doc_id").alias("_root"), F.explode(out_docs).alias("d"))
        .select(
            "d.doc_id", "d.spans", "d.status",
            F.when(F.col("d.doc_id") != F.col("_root"), F.col("_root"))
            .alias("root_id"),
        )
    )
    return out if with_root else out.drop("root_id")


# ---------------------------------------------------------------------------
# Extraction kernel as Arrow-batched mapInPandas
# ---------------------------------------------------------------------------

def _extract_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    from .extractors import extract_document

    for batch in batches:
        rows = []
        for doc_id, spans, status in zip(
            batch["doc_id"], batch["spans"], batch["status"]
        ):
            if status is not None and not (isinstance(status, float)):
                rows.append((doc_id, status, [], 0, 0, 0))
                continue
            span_dicts = [dict(s) for s in (spans if spans is not None else [])]
            bytes_in = sum(len(s.get("text") or "") for s in span_dicts)
            st, out = extract_document(doc_id, span_dicts)
            n_chars = sum(len(s["text"] or "") for s in out if s["text"])
            rows.append((doc_id, st, out, len(out), n_chars, bytes_in))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "status", "spans", "n_spans", "n_chars", "bytes_in"],
        )


def _splittable_col(threshold: int):
    """Oversized page-independent docs are eligible for span chunking.

    Only docs whose every span is pdf_page/media (doc-level semantics like
    the EPUB size budget must see the whole doc). Media spans inherit the
    chunk of their preceding page so the page-then-images interleaving
    survives chunk boundaries.
    """
    doc_bytes = F.aggregate(
        "spans", F.lit(0).cast(LongType()),
        lambda acc, s: acc + F.coalesce(F.length(s.text), F.lit(0)),
    )
    return (doc_bytes > threshold) & F.forall(
        "spans", lambda s: s.kind.isin("pdf_page", "media")
    )


def _chunk_big(big: DataFrame) -> DataFrame:
    """Span-chunk oversized docs; adds (chunk_id, n_chunks)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    exploded = (
        big.select("doc_id", "status",
                   F.posexplode("spans").alias("pos", "span"))
        .withColumn(
            "anchor",
            F.sum(
                F.when(F.col("span.kind") != "media", 1).otherwise(0)
            ).over(w) - 1,
        )
        .withColumn("chunk_id", (F.greatest(F.col("anchor"), F.lit(0))
                                 / SKEW_CHUNK_SPANS).cast(IntegerType()))
    )
    chunks = (
        exploded.groupBy("doc_id", "chunk_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "span"))).alias("ps"),
            F.first("status").alias("status"),
        )
        .withColumn("spans", F.transform("ps", lambda x: x.span))
        .withColumn(
            "n_chunks",
            F.count("*").over(Window.partitionBy("doc_id")).cast(IntegerType()),
        )
        .select("doc_id", "spans", "status", "chunk_id", "n_chunks")
    )
    return chunks


def _reassemble(multi: DataFrame) -> DataFrame:
    """Merge chunked extraction outputs back into whole documents.

    Error contract matches the unsplit kernel (extract_document): any
    erroring chunk poisons the whole document — empty spans, zero
    n_spans/n_chars — so split and unsplit paths are indistinguishable
    (bytes_in stays the summed input size, as in the unsplit error row).
    """
    merged = (
        multi.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("chunk_id", "spans"))
            ).alias("cs"),
            F.max(F.when(F.col("status").startswith("error"), F.col("status"))).alias("err"),
            F.max(F.when(F.col("status") == "ok", F.lit(1)).otherwise(0)).alias("any_ok"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .withColumn(
            "flat",
            F.when(F.col("err").isNotNull(),
                   F.array().cast(SPANS_TYPE.simpleString()))
            .otherwise(F.flatten(F.transform("cs", lambda c: c.spans))),
        )
        .withColumn(
            "spans",
            F.transform(
                "flat",
                lambda s, i: F.struct(
                    s.kind.alias("kind"), s.text.alias("text"),
                    s.media_ref.alias("media_ref"),
                    i.cast(IntegerType()).alias("offset"),
                ),
            ),
        )
        .withColumn(
            "status",
            F.when(F.col("err").isNotNull(), F.col("err"))
            .when(F.col("any_ok") == 1, F.lit("ok"))
            .otherwise(F.lit("empty")),
        )
        .withColumn("n_spans", F.size("spans"))
        .withColumn(
            "n_chars",
            F.when(F.col("err").isNotNull(), F.lit(0).cast(LongType()))
            .otherwise(F.col("sum_chars")),
        )
        .select("doc_id", "status", "spans", "n_spans", "n_chars", "bytes_in")
    )
    return merged


_ROOT_FIELD = StructField("root_id", StringType())


def extract_spans_df(
    df: DataFrame,
    salt_partitions: int | None = None,
    skew_split: bool = False,
    skew_threshold: int = SKEW_SPLIT_BYTES,
    keep_root: bool = False,
) -> DataFrame:
    """documents(doc_id, spans) -> extracted spans DataFrame (OUT_SCHEMA).

    The default plan is scan -> fan-out -> (salt shuffle) -> one kernel,
    with no persist, no post-kernel reshaping and no union.

    ``skew_split=True`` (opt-in) routes oversized page-independent docs
    (``_splittable_col(skew_threshold)``) through the chunk -> kernel ->
    collect_list reassembly detour. The small/big split happens *before*
    the Python kernel, so every row still pays the Arrow/Python cost
    exactly once (a post-kernel filter-into-union would re-run the kernel
    per branch — 2x the Python work).

    ``keep_root=True`` appends a ``root_id`` column: the pre-fan-out input
    doc_id (== doc_id for non-archive rows). Only keep_root callers
    (checkpointing) pay the carry cost — the default path is byte-identical
    to the plain 3-column kernel plan. It runs on the one-pass plan only:
    combined with ``skew_split=True`` it raises ``ValueError``.
    """
    if skew_split and keep_root:
        raise ValueError("keep_root=True requires skew_split=False")
    fanned = explode_archives_df(df, with_root=keep_root)

    if salt_partitions:
        fanned = fanned.repartition(
            salt_partitions, F.pmod(F.xxhash64("doc_id"), F.lit(salt_partitions))
        )

    if skew_split:
        # Both routing filters read the salted corpus. Catalyst pushes each
        # branch's filter below the repartition Exchange, so the branches
        # cannot share one exchange and the corpus would be scanned, fanned
        # out and shuffled once per branch; persisting the salted corpus
        # lets both read one materialized copy. Unsalted, each branch scans.
        from pyspark.storagelevel import StorageLevel
        if salt_partitions:
            fanned = fanned.persist(StorageLevel.MEMORY_AND_DISK)
        split = _splittable_col(skew_threshold)
        small = fanned.filter(~split)
        big = fanned.filter(split)
    else:
        small, big = fanned, None

    def _meta_wrapped(meta_cols: list[str]):
        def run(batches):
            import pandas as pd
            for batch in batches:
                meta = batch[meta_cols].reset_index(drop=True)
                res = next(_extract_batches(iter([batch]))).reset_index(drop=True)
                yield pd.concat([res, meta], axis=1)
        return run

    if keep_root:
        small_schema = StructType(OUT_SCHEMA.fields + [_ROOT_FIELD])
        return small.select(
            "doc_id", "spans", "status", "root_id"
        ).mapInPandas(_meta_wrapped(["root_id"]), schema=small_schema
        ).withColumn("root_id", F.coalesce("root_id", "doc_id"))

    out_small = small.select("doc_id", "spans", "status").mapInPandas(
        _extract_batches, schema=OUT_SCHEMA
    )
    if big is None:
        return out_small

    # Oversized docs: chunk (already a shuffle by doc_id+chunk), extract
    # each chunk independently, reassemble order-preserving.
    chunks = _chunk_big(big)
    out_schema = StructType(
        OUT_SCHEMA.fields
        + [StructField("chunk_id", IntegerType()),
           StructField("n_chunks", IntegerType())]
    )
    out_big = chunks.select(
        "doc_id", "spans", "status", "chunk_id", "n_chunks"
    ).mapInPandas(_meta_wrapped(["chunk_id", "n_chunks"]), schema=out_schema)
    return out_small.unionByName(_reassemble(out_big))
