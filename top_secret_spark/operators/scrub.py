"""Spark operators for scan / scrub / restore and category projections.

The scrub itself (ordered single-pass alternation substitution,
text.rb:216-224) is fundamentally not expressible as chained
``regexp_replace`` — chaining re-introduces the token re-filtering bug the
reference fixed in v1.0.1 — so it runs as ONE Arrow-batched pandas UDF.
Everything downstream of the mapping column (categories, predicates,
counts) is pure Catalyst: higher-order functions over
array<struct<key,value>>, fully codegen'd, no Python.

At 100 TB scale this stage is embarrassingly parallel: no shuffle, no
skew sensitivity, throughput scales with executor count as long as the
input is splittable and partitions are sized by
spark.sql.files.maxPartitionBytes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernel.filters import DEFAULT_CONFIG, ScrubConfig
from ..kernel.scrub import restore_text, scrub_batch

MAPPING_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("value", T.StringType(), False),
        ]
    )
)

SCRUB_RESULT_TYPE = T.StructType(
    [
        T.StructField("scrubbed", T.StringType(), False),
        T.StructField("mapping", MAPPING_TYPE, False),
    ]
)

RESTORE_RESULT_TYPE = T.StructType(
    [
        T.StructField("output", T.StringType(), False),
        T.StructField("unrestored", T.ArrayType(T.StringType()), False),
        T.StructField("restored", T.ArrayType(T.StringType()), False),
    ]
)


def _mapping_to_rows(mapping):
    return [{"key": k, "value": v} for k, v in mapping]


def make_scrub_udf(config: ScrubConfig = DEFAULT_CONFIG):
    """Scalar pandas UDF: transcript → struct(scrubbed, mapping).

    The compiled filter plan is cached per (Python worker, config) via the
    kernel's lru_cache — the executor-local-singleton pattern the
    reference uses for its model cache (text.rb:21-33)."""
    config.all_filters()  # validate labels at PLAN time (op 9 — driver-side)

    @pandas_udf(SCRUB_RESULT_TYPE)
    def scrub(texts: pd.Series) -> pd.DataFrame:
        outputs, mappings = scrub_batch(texts.tolist(), None, config)
        return pd.DataFrame(
            {"scrubbed": outputs, "mapping": [_mapping_to_rows(m) for m in mappings]}
        )

    return scrub


def make_scrub_with_entities_udf(config: ScrubConfig = DEFAULT_CONFIG):
    """Like make_scrub_udf but consuming a pre-extracted entities column
    (array<struct<text,tag,score>>) — the engine's equivalent of the
    reference's injected Mitie entities (spec/spec_helper.rb:26-31)."""
    config.all_filters()  # validate labels at PLAN time (op 9 — driver-side)

    @pandas_udf(SCRUB_RESULT_TYPE)
    def scrub(texts: pd.Series, entities: pd.Series) -> pd.DataFrame:
        ents = [
            None
            if e is None
            else [
                {"text": x["text"], "tag": x["tag"], "score": x["score"]} for x in e
            ]
            for e in entities.tolist()
        ]
        outputs, mappings = scrub_batch(texts.tolist(), ents, config)
        return pd.DataFrame(
            {"scrubbed": outputs, "mapping": [_mapping_to_rows(m) for m in mappings]}
        )

    return scrub


def make_scan_udf(config: ScrubConfig = DEFAULT_CONFIG):
    """Detect-only (op 12, text.rb:137-158): transcript → mapping."""
    config.all_filters()  # validate labels at PLAN time (op 9 — driver-side)

    @pandas_udf(MAPPING_TYPE)
    def scan(texts: pd.Series) -> pd.Series:
        _, mappings = scrub_batch(texts.tolist(), None, config)
        return pd.Series([_mapping_to_rows(m) for m in mappings])

    return scan


@pandas_udf(RESTORE_RESULT_TYPE)
def restore_udf(texts: pd.Series, mappings: pd.Series) -> pd.DataFrame:
    """Inverse scrub (op 19, filtered_text.rb:43-58): (text, mapping) →
    struct(output, unrestored, restored)."""
    outs, unres, res = [], [], []
    for text, mapping in zip(texts.tolist(), mappings.tolist()):
        if text is None:
            outs.append("")
            unres.append([])
            res.append([])
            continue
        entries = [] if mapping is None else list(mapping)
        pairs = [(e["key"], e["value"]) for e in entries]
        o, u, r = restore_text(text, pairs)
        outs.append(o)
        unres.append(u)
        res.append(r)
    return pd.DataFrame({"output": outs, "unrestored": unres, "restored": res})


def with_scrub(
    df: DataFrame,
    config: ScrubConfig = DEFAULT_CONFIG,
    text_col: str = "transcript",
    entities_col: str | None = None,
    output_col: str = "scrubbed",
    mapping_col: str = "mapping",
) -> DataFrame:
    """Add scrubbed-text + mapping columns (op 13, text.rb:165-171)."""
    if entities_col is not None:
        udf = make_scrub_with_entities_udf(config)
        res = udf(F.col(text_col), F.col(entities_col))
    else:
        udf = make_scrub_udf(config)
        res = udf(F.col(text_col))
    return df.withColumn("_scrub", res).withColumns(
        {output_col: F.col("_scrub.scrubbed"), mapping_col: F.col("_scrub.mapping")}
    ).drop("_scrub")


def with_restore(
    df: DataFrame,
    text_col: str = "scrubbed",
    mapping_col: str = "mapping",
) -> DataFrame:
    """Add restored/unrestored columns (op 19)."""
    res = restore_udf(F.col(text_col), F.col(mapping_col))
    return df.withColumn("_restore", res).withColumns(
        {
            "restored_text": F.col("_restore.output"),
            "unrestored": F.col("_restore.unrestored"),
            "restored": F.col("_restore.restored"),
        }
    ).drop("_restore")


# ---------------------------------------------------------------------------
# Category projections as pure Catalyst column expressions (op 14).
# The reference's dynamic Ruby methods (mapping.rb:32-87) become column
# helpers; key matching is the same exact-type anchor ^TYPE_\d+$
# (category.rb:112-114).
# ---------------------------------------------------------------------------


def _key_regex(category_type: str) -> str:
    import re as _re

    return f"^{_re.escape(category_type.upper())}_[0-9]+$"


def category_mapping(mapping_col, category_type: str) -> Column:
    """Sub-mapping for a category (result.email_mapping equivalent)."""
    col = F.col(mapping_col) if isinstance(mapping_col, str) else mapping_col
    return F.filter(col, lambda e: e["key"].rlike(_key_regex(category_type)))


def category_values(mapping_col, category_type: str) -> Column:
    """Values for a category (result.emails equivalent)."""
    return F.transform(
        category_mapping(mapping_col, category_type), lambda e: e["value"]
    )


def has_category(mapping_col, category_type: str) -> Column:
    """Predicate (result.emails? equivalent)."""
    return F.size(category_mapping(mapping_col, category_type)) > 0


def categories_col(mapping_col) -> Column:
    """Distinct category types present, lowercased, first-seen order
    (mapping.rb:62-66): strip the trailing _N from every key."""
    col = F.col(mapping_col) if isinstance(mapping_col, str) else mapping_col
    return F.array_distinct(
        F.transform(
            col, lambda e: F.lower(F.regexp_replace(e["key"], "_[0-9]+$", ""))
        )
    )


def sensitive_col(mapping_col) -> Column:
    """mapping non-empty (mapping.rb:34-37)."""
    col = F.col(mapping_col) if isinstance(mapping_col, str) else mapping_col
    return F.size(col) > 0


def with_pii_density(
    df: DataFrame,
    text_col: str = "transcript",
    config=None,
) -> DataFrame:
    """Append ``n_pii`` (DISTINCT detected PII values — the scan
    mapping's size, so repeated mentions of one value count once, the
    reference's dedupe semantics) and ``pii_density`` (n_pii / word
    count; 0.0 for empty text).  Inputs this dense in PII are a privacy
    hazard even scrubbed — a contact-list dump or a leaked CSV is
    mostly structure around PII, and substitution tokens preserve that
    structure — so curation drops them instead of shipping a document
    that is 40% placeholders.

    Same single scan pass the detect path pays (one Arrow crossing);
    the density arithmetic is pure Catalyst on top."""
    from .quality import n_words_col

    scan = make_scan_udf(config) if config is not None else make_scan_udf()
    d = df.withColumn("_pii_map", scan(F.col(text_col)))
    return (
        d.withColumn("n_pii", F.size("_pii_map"))
        .withColumn(
            "pii_density",
            F.when(
                n_words_col(F.col(text_col)) > 0,
                F.col("n_pii") / n_words_col(F.col(text_col)),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_pii_map")
    )


def pii_density_reason_col(
    max_density: float = 0.2, max_count: int = 50
) -> Column:
    """Gate column over :func:`with_pii_density`: ``pii_dense`` when
    the density exceeds ``max_density`` OR the absolute count exceeds
    ``max_count`` (a long document can hide an address book under a
    low ratio), NULL otherwise.  Codegen'd CASE — free at any scale."""
    return F.when(
        (F.col("pii_density") > F.lit(float(max_density)))
        | (F.col("n_pii") > F.lit(int(max_count))),
        F.lit("pii_dense"),
    )


def pseudonym_col(
    col, secret: str, prefix: str = "id", length: int = 16
) -> Column:
    """Keyed pseudonymization for identifier COLUMNS — the metadata
    counterpart of the text scrub: speaker ids, device ids, and clip
    ids must be de-identified before a corpus is shared, but training
    still needs them STABLE (same speaker → same token, so speaker
    statistics and per-speaker caps survive).  token =
    ``prefix_<hex>`` where hex is the truncated keyed digest of the
    value; without ``secret`` the mapping is not invertible by
    rainbow-table lookup of the raw id space.

    Pure Catalyst (md5 + substring + concat — codegen'd); NULL ids
    stay NULL (a fabricated token for a missing id would create a
    phantom speaker every NULL row shares).  Truncation trades
    collision resistance for length: 16 hex chars = 64 bits, fine for
    10^12 ids (~3e-14 pair collision at 10^6 speakers); raise
    ``length`` toward 32 for larger id spaces."""
    if not secret:
        raise ValueError("pseudonym_col requires a non-empty secret")
    if not 4 <= length <= 32:
        raise ValueError(f"length must be in [4, 32], got {length}")
    c = col if isinstance(col, Column) else F.col(col)
    digest = F.md5(F.concat(F.lit(secret), F.lit(":"), c.cast("string")))
    return F.when(
        c.isNotNull(),
        F.concat(F.lit(prefix), F.lit("_"), F.substring(digest, 1, length)),
    )


def with_pseudonyms(
    df: DataFrame,
    cols: dict,
    secret: str,
) -> DataFrame:
    """Replace each column in ``cols`` (name → token prefix) with its
    keyed pseudonym (see :func:`pseudonym_col`).  One projection, all
    columns at once."""
    return df.withColumns(
        {name: pseudonym_col(name, secret, prefix)
         for name, prefix in cols.items()}
    )
