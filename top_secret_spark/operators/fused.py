"""The pipeline's one Spark stage: ONE Arrow crossing per batch.

Every ``run_pipeline`` config runs as a single scalar ``pandas_udf``
that, per Arrow batch, optionally decodes the audio (``bytes`` → feature
columns), then computes every text signal, langid, perplexity,
keep/drop and the scrub of kept rows with the SAME kernel functions the
oracles test:

    clips → clips + [audio features] + (signals, lang, lang_conf, ppl,
                                        keep, drop_reason, scrubbed,
                                        mapping)

The gating stages (langid, perplexity, scrub) are irreducibly
Python/numpy, so the whole body runs in one worker round-trip and the
plan stays scan → one ArrowEvalPython → project, with no shuffle.  Only
the columns the body reads cross to Python; the rest stay in the JVM,
so column pruning still reaches the scan.  The modular operators
(quality.py, features.py, scrub.py) remain as composable pieces for the
oracle queries; the pipeline does not use them.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernel.filters import DEFAULT_CONFIG, ScrubConfig
from ..kernel.quality import DEFAULT_THRESHOLDS, QualityThresholds
from .audio import (
    AUDIO_FEATURE_FIELDS,
    AUDIO_FEATURES_TYPE,
    append_audio_feature_columns,
)
from .scrub import MAPPING_TYPE

FUSED_TYPE = T.StructType(
    [
        T.StructField("n_chars", T.IntegerType(), False),
        T.StructField("n_words", T.IntegerType(), False),
        T.StructField("symbol_ratio", T.DoubleType(), False),
        T.StructField("digit_ratio", T.DoubleType(), False),
        T.StructField("dup_line_frac", T.DoubleType(), False),
        T.StructField("top_bigram_frac", T.DoubleType(), False),
        T.StructField("toxicity", T.DoubleType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("lang_conf", T.DoubleType(), False),
        T.StructField("ppl", T.DoubleType(), False),
        T.StructField("keep", T.BooleanType(), False),
        T.StructField("drop_reason", T.StringType(), True),
        T.StructField("scrubbed", T.StringType(), True),
        T.StructField("mapping", MAPPING_TYPE, True),
    ]
)

FUSED_FIELDS = [f.name for f in FUSED_TYPE.fields]


def fused_text_frame(
    texts: pd.Series,
    ents: list | None,
    scrub_config: ScrubConfig = DEFAULT_CONFIG,
    thresholds: QualityThresholds = DEFAULT_THRESHOLDS,
    scrub_dropped: bool = False,
) -> pd.DataFrame:
    """One Arrow batch of the fused text pipeline (signals → langid →
    perplexity → keep/drop → scrub-kept-only), the text half of
    ``fused_stage``.  ``ents`` is None or one entity list per text.
    Returns a DataFrame with exactly ``FUSED_FIELDS`` columns."""
    import re

    import numpy as np

    from ..kernel.langid import detect_batch
    from ..kernel.perplexity import perplexity_batch
    from ..kernel.quality import (
        batch_char_signals,
        dup_line_frac,
        keep_drop_vector,
        top_bigram_frac,
    )
    from ..kernel.scrub import scrub_batch
    from ..kernel.toxicity import TOXICITY_PATTERN

    t = texts.tolist()
    langs, confs = detect_batch(t)
    ppls = perplexity_batch(t)

    n = len(t)
    # cheap per-char signals: byte-LUT reduceat pass when the batch
    # is pure ASCII, pandas .str regex otherwise (same `re` engine
    # as the kernel scalar twins — semantics identical either way,
    # equivalence pytest-gated)
    s = texts.fillna("")
    n_chars_v, n_words_v, n_alsp_v, n_dig_v, has_nl_v = (
        batch_char_signals(s)
    )
    denom = n_chars_v.clip(min=1)
    symbol_v = (n_chars_v - n_alsp_v) / denom
    digit_v = n_dig_v / denom
    tox_v = (
        s.str.lower().str.count(TOXICITY_PATTERN, flags=re.ASCII).to_numpy()
        / n_words_v.clip(min=1)
    )
    # the two set/dict signals stay per-row but only run where they
    # can be nonzero: dup_line_frac needs a newline, top_bigram_frac
    # needs >= 8 words — most transcripts skip both loops entirely
    dup_v = np.zeros(n, dtype=np.float64)
    for i in np.flatnonzero(has_nl_v):
        dup_v[i] = dup_line_frac(t[i] or "")
    big_v = np.zeros(n, dtype=np.float64)
    for i in np.flatnonzero(n_words_v >= 8):
        big_v[i] = top_bigram_frac(t[i] or "")

    keep_v, reason_v = keep_drop_vector(
        n_chars_v, n_words_v, symbol_v, digit_v, dup_v, big_v, tox_v,
        langs, confs, ppls, thresholds,
    )

    rows = {
        "n_chars": n_chars_v.astype("int32"),
        "n_words": n_words_v.astype("int32"),
        "symbol_ratio": symbol_v,
        "digit_ratio": digit_v,
        "dup_line_frac": dup_v,
        "top_bigram_frac": big_v,
        "toxicity": tox_v,
        "lang": list(langs),
        "lang_conf": np.asarray(confs, dtype=np.float64),
        "ppl": np.asarray(ppls, dtype=np.float64),
        "keep": keep_v,
        "drop_reason": reason_v,
        "scrubbed": [None] * n,
        "mapping": [None] * n,
    }
    to_scrub = (
        list(range(n)) if scrub_dropped else np.flatnonzero(keep_v).tolist()
    )
    outputs, mappings = scrub_batch(
        [t[i] for i in to_scrub],
        None if ents is None else [ents[i] for i in to_scrub],
        scrub_config,
    )
    for j, i in enumerate(to_scrub):
        rows["scrubbed"][i] = outputs[j]
        rows["mapping"][i] = [
            {"key": k, "value": v} for k, v in mappings[j]
        ]
    return pd.DataFrame(rows)[FUSED_FIELDS]


def fused_stage(
    clips: DataFrame,
    scrub_config: ScrubConfig = DEFAULT_CONFIG,
    thresholds: QualityThresholds = DEFAULT_THRESHOLDS,
    scrub_dropped: bool = False,
    include_audio: bool = False,
    entities_col: str | None = None,
) -> DataFrame:
    """clips → clips + [audio features] + ``FUSED_FIELDS`` in one scalar
    ``pandas_udf``.  Only the columns the body reads cross to Python
    (transcript, ``entities_col`` when set, bytes/codec/sr_hz when
    ``include_audio``); every other column stays in the JVM and can
    still be pruned at the scan.  The UDF returns one struct that is
    expanded in place — an input column named like an output field is
    replaced — and ``bytes`` is dropped when ``include_audio`` (it is
    consumed, as in ``with_audio_features``).  ``entities_col`` names an
    array<struct<text,tag,score>> column of injected NER entities."""
    scrub_config.all_filters()  # plan-time label validation (op 9)

    fields = [*AUDIO_FEATURES_TYPE.fields] if include_audio else []
    fields += FUSED_TYPE.fields
    names = [f.name for f in fields]
    args = ["transcript"]
    if entities_col is not None:
        args.append(entities_col)
    if include_audio:
        args += ["bytes", "codec", "sr_hz"]

    @pandas_udf(T.StructType(fields))
    def fused(*cols: pd.Series) -> pd.DataFrame:
        texts = cols[0]
        ents = None if entities_col is None else [
            None if e is None else [
                {"text": x["text"], "tag": x["tag"], "score": x["score"]}
                for x in e
            ]
            for e in cols[1].tolist()
        ]
        out = fused_text_frame(
            texts, ents, scrub_config, thresholds, scrub_dropped
        )
        if include_audio:
            audio = append_audio_feature_columns(pd.DataFrame(
                {"bytes": cols[-3], "codec": cols[-2], "sr_hz": cols[-1]}
            ))
            for name in AUDIO_FEATURE_FIELDS:
                # .values sidesteps index alignment: both frames are
                # positionally parallel over the same Arrow batch
                out[name] = audio[name].values
        return out[names]

    out = clips.withColumn("_fused", fused(*[F.col(c) for c in args]))
    out = out.withColumns({n: F.col("_fused")[n] for n in names})
    return out.drop("_fused", *(["bytes"] if include_audio else []))
