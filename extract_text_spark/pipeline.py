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

That is the whole plan, for batch, streaming and checkpointing alike: one
scan, one kernel, no persist, no window and no union. An oversized
page-only PDF (a "whale") is one task; the salt spreads the rest of the
corpus over the other cores while it runs. Whales are not span-chunked:
on page-only whales of 4-6 MB and of 20 MB at ``local[4]``, window
chunking plus ``collect_list`` reassembly cost more than the stragglers
it removed.

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
    """Whale predicate: docs above ``threshold`` bytes whose every span is
    pdf_page/media, i.e. page-independent documents.

    Extraction does not route on it (every doc takes the one-pass plan);
    it names the oversized documents a corpus holds, so a benchmark can
    report how much of its input is whales (``config.SKEW_SPLIT_BYTES``).
    """
    doc_bytes = F.aggregate(
        "spans", F.lit(0).cast(LongType()),
        lambda acc, s: acc + F.coalesce(F.length(s.text), F.lit(0)),
    )
    return (doc_bytes > threshold) & F.forall(
        "spans", lambda s: s.kind.isin("pdf_page", "media")
    )


_ROOT_FIELD = StructField("root_id", StringType())


def _extract_batches_with_root(
    batches: Iterator["pd.DataFrame"],
) -> Iterator["pd.DataFrame"]:
    """``_extract_batches`` that carries each row's ``root_id`` through."""
    import pandas as pd

    for batch in batches:
        root = batch[["root_id"]].reset_index(drop=True)
        res = next(_extract_batches(iter([batch]))).reset_index(drop=True)
        yield pd.concat([res, root], axis=1)


def extract_spans_df(
    df: DataFrame,
    salt_partitions: int | None = None,
    skew_split: bool = False,
    keep_root: bool = False,
) -> DataFrame:
    """documents(doc_id, spans) -> extracted spans DataFrame (OUT_SCHEMA).

    One plan for every caller: scan -> fan-out -> (salt shuffle) -> one
    kernel, with no persist, no post-kernel reshaping and no union. Every
    row pays the Arrow/Python cost exactly once.

    ``skew_split`` only accepts ``False``, so callers that pass it keep
    working; whales are not span-chunked, and ``True`` raises
    ``ValueError``.

    ``keep_root=True`` appends a ``root_id`` column: the pre-fan-out input
    doc_id (== doc_id for non-archive rows). Only keep_root callers
    (checkpointing) pay the carry cost — the default path is byte-identical
    to the plain 3-column kernel plan.
    """
    if skew_split:
        raise ValueError("skew_split=True is no longer supported: every "
                         "document takes the one-pass plan")
    fanned = explode_archives_df(df, with_root=keep_root)
    if salt_partitions:
        fanned = fanned.repartition(
            salt_partitions, F.pmod(F.xxhash64("doc_id"), F.lit(salt_partitions))
        )
    if keep_root:
        return fanned.select(
            "doc_id", "spans", "status", "root_id"
        ).mapInPandas(
            _extract_batches_with_root,
            schema=StructType(OUT_SCHEMA.fields + [_ROOT_FIELD]),
        ).withColumn("root_id", F.coalesce("root_id", "doc_id"))
    return fanned.select("doc_id", "spans", "status").mapInPandas(
        _extract_batches, schema=OUT_SCHEMA
    )
