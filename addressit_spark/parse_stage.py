"""Vectorized parse stage: the kernel wrapped as an Arrow pandas UDF.

The reference parses one string synchronously (``/root/reference/index.js:48-54``);
here the same dataflow runs as a ``pandas_udf`` over Arrow batches — JVM↔Python
transfer is columnar and batched (no per-row Python UDFs anywhere), and the
regex lexicons are compiled once per Python worker at module import
(mirroring the reference's module-load precompilation,
``/root/reference/parsers/compiler.js:4-17``).

Input shapes accepted (FIXTURES.md §2/§5):

* nested — ``documents(doc_id, spans: array<struct<kind,text,media_ref,offset>>)``
  (the BASELINE.json ``input_hint`` shape): spans are flattened with
  ``posexplode`` so ``pos`` preserves span order for the span-sequence
  invariant, text spans are parsed, media spans pass through untouched.
* flat — ``documents(doc_id, text, …)`` (the driver testdata shape): each row
  is treated as a single text span at ``pos = 0``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from addressit_spark.kernel import LOCALES, Locale, make_locale, parse
from addressit_spark.util import ensure_parallelism

ADDRESS_SCHEMA = StructType(
    [
        StructField("unit", StringType()),
        StructField("number", StringType()),
        StructField("street", StringType()),
        StructField("state", StringType()),
        StructField("country", StringType()),
        StructField("postalcode", StringType()),
        StructField("regions", ArrayType(StringType())),
        StructField("text", StringType()),
    ]
)

SPAN_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_SCHEMA)),
    ]
)


def resolve_locale(locale) -> Locale:
    """str name | ``Locale`` | caller-opts dict → a frozen ``Locale``.

    A dict mirrors the reference's caller ``opts`` overlay
    (``addressit(input, opts)``, /root/reference/index.js:48-54): keys
    ``base`` (default "en-US"), ``state``, ``country``, ``postalcode`` —
    each given key replaces the base locale's lexicon wholesale, a falsy
    value disables that extractor (``cog/extend`` + the
    ``if (opts && opts.state)`` guards at /root/reference/parsers/en.js:115-125).
    """
    if isinstance(locale, Locale):
        return locale
    if isinstance(locale, dict):
        return make_locale(locale.get("base", "en-US"), **{
            k: v for k, v in locale.items() if k != "base"
        })
    return LOCALES[locale]


def make_parse_udf(locale="en-US"):
    """Series[str] → Series[address struct] pandas UDF for one locale.

    ``locale`` may be a built-in name, a ``Locale`` instance, or a caller
    opts dict (see :func:`resolve_locale`) — the resolved frozen locale is
    closure-captured and pickled to workers as raw regex sources (the
    reference threads opts the same way,
    ``/root/reference/parsers/en.js:115-125``); regex tables recompile once
    per Python worker, shared across batches.
    """
    loc = resolve_locale(locale)
    fields = ADDRESS_SCHEMA.fieldNames()
    null_row = dict.fromkeys(fields)

    @pandas_udf(ADDRESS_SCHEMA)
    def parse_address(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in it:
            rows = [parse(t, loc) if t is not None else null_row for t in texts]
            yield pd.DataFrame(rows, columns=fields)

    # The kernel IS deterministic; this flag only stops Catalyst from
    # duplicating the (expensive) UDF when a downstream filter references
    # address.* — otherwise the plan evaluates the parse twice (once inside
    # the pushed-down filter, once for the projection).
    return parse_address.asNondeterministic()


def explode_spans(documents: DataFrame) -> DataFrame:
    """Flatten the nested documents shape, keeping span order in ``pos``.

    Document-level metadata columns beyond (doc_id, spans) — e.g. an
    ``ingest_ts`` event-time column in the streaming surface — pass through
    onto every span row.
    """
    extra = [c for c in documents.columns if c not in ("doc_id", "spans")]
    return documents.select(
        "doc_id",
        *extra,
        F.posexplode("spans").alias("pos", "span"),
    ).select(
        "doc_id",
        *extra,
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def normalize_documents(documents: DataFrame) -> DataFrame:
    """Accept either input shape and return the exploded span table."""
    if "spans" in documents.columns:
        return explode_spans(documents)
    # flat driver shape: one text span per row at pos 0
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("pos"),
        F.lit("text").alias("kind"),
        F.col("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )


def parse_spans(documents: DataFrame, locale="en-US") -> DataFrame:
    """explode → parse text spans → (doc_id, pos, kind, …, address struct).

    Media spans pass through with a NULL address, so downstream reassembly
    can verify the span-sequence invariant over the full interleaved doc.
    Only ``doc_id/pos/kind/text/media_ref/offset`` plus the parse input are
    read — keep projections narrow so parquet column pruning bites.
    """
    spans = ensure_parallelism(normalize_documents(documents))
    parse_udf = make_parse_udf(locale)
    # Feed NULL for media spans so the kernel short-circuits instead of the
    # plan computing the UDF on every row and masking afterwards.
    return spans.withColumn(
        "address",
        parse_udf(F.when(F.col("kind") == "text", F.col("text"))),
    )


def format_address_col(a: "F.col") -> "F.col":
    """Column-expression twin of ``kernel.to_string`` (O17,
    /root/reference/address.js:313-328): ``[number ]street\\n`` when a street
    was extracted (falsy '' number omitted — Q3), then regions joined by
    ', ' + '\\n'. Pure JVM expressions — usable in the hot path.
    """
    street_part = F.when(
        a.getField("street").isNotNull() & (a.getField("street") != ""),
        F.concat(
            F.when(
                a.getField("number").isNotNull() & (a.getField("number") != ""),
                F.concat(a.getField("number"), F.lit(" ")),
            ).otherwise(F.lit("")),
            a.getField("street"),
            F.lit("\n"),
        ),
    ).otherwise(F.lit(""))
    regions_part = F.concat(
        F.concat_ws(
            ", ", F.coalesce(a.getField("regions"), F.array().cast("array<string>"))
        ),
        F.lit("\n"),
    )
    return F.concat(street_part, regions_part)


def reassemble(spans: DataFrame) -> DataFrame:
    """Rebuild (doc_id, spans[]) from exploded spans, ordered by pos.

    Used by the span-sequence-equality invariant test: after
    explode→parse→reassemble, (kind, text, media_ref, order) must equal the
    input's. sort_array on the (pos, …) struct gives a deterministic order
    without a per-group sort shuffle.
    """
    return (
        spans.select(
            "doc_id",
            F.struct(
                F.col("pos"),
                F.struct("kind", "text", "media_ref", "offset").alias("span"),
            ).alias("pspan"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pspan")).alias("pspans"))
        .select("doc_id", F.col("pspans.span").alias("spans"))
    )
