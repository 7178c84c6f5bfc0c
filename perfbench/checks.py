"""Output checks of one committed checkpoint stage, read back from disk
with pyarrow (not through Spark).

Every failed check counts clips, so the counts add up to the run's
``failed`` and its error rate (failed clips / input clips):

* lineage accounting: every bucket complete exactly once, the committed
  ``n_rows`` summing to the input clips;
* clip accounting: no input clip missing, duplicated or unexpected;
* equality with a reference output of the same input, clip by clip, and
  of the order-free content hash;
* a seeded sample of clips recomputed in the driver with the scalar
  kernel references and compared clip by clip.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

SAMPLE_CLIPS = 48


def read_stage(root: str, stage: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(data, lineage) of a checkpoint stage; data carries ``bucket``."""
    import pyarrow.parquet as pq

    data = pq.read_table(os.path.join(root, stage, "data")).to_pandas()
    lineage = pq.read_table(os.path.join(root, stage, "lineage")).to_pandas()
    return data, lineage


def content_hash(data: pd.DataFrame) -> str:
    """Order-free sha256 of (clip_id, keep, scrubbed) over the rows."""
    rows = sorted(repr(r) for r in zip(data["clip_id"], data["keep"], data["scrubbed"]))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def lineage_failures(lineage: pd.DataFrame, n_buckets: int,
                     n_input: int) -> tuple[int, dict]:
    """Clips unaccounted for by the stage's lineage: the difference
    between committed and input rows, plus rows committed twice."""
    done = lineage[lineage["status"] == "complete"]
    first = done.drop_duplicates("bucket")
    committed = int(first["n_rows"].sum())
    recommitted = int(done["n_rows"].sum()) - committed
    info = {"complete_buckets": len(first), "n_rows": committed,
            "recommitted_rows": recommitted}
    failed = abs(committed - n_input) + recommitted
    if len(first) != n_buckets:
        failed = max(failed, 1)
    return failed, info


def output_failures(input_ids: pd.Series, data: pd.DataFrame,
                    reference: pd.DataFrame, columns: list[str]) -> tuple[int, dict]:
    """Input clips missing from the output, duplicated in it or differing
    from the reference output, and output clips not in the input."""
    ids = set(input_ids)
    out_ids = set(data["clip_id"])
    info = {
        "missing": len(ids - out_ids),
        "unexpected": len(out_ids - ids),
        "duplicated": len(data) - len(out_ids),
    }
    both = data[columns].merge(reference[columns], on="clip_id",
                               suffixes=("", "_ref"))
    differ = np.zeros(len(both), dtype=bool)
    for c in columns[1:]:
        a, b = both[c], both[f"{c}_ref"]
        differ |= ~((a == b) | (a.isna() & b.isna())).to_numpy()
    info["differ"] = int(differ.sum())
    info["content_hash"] = content_hash(data)
    info["reference_hash"] = content_hash(reference)
    failed = info["missing"] + info["unexpected"] + info["duplicated"] + info["differ"]
    if info["content_hash"] != info["reference_hash"] and not failed:
        failed = 1
    return failed, info


def scalar_reference(text: str | None) -> dict:
    """keep / drop_reason / scrubbed for one transcript from the scalar
    kernel references, at the pipeline's default configuration."""
    from top_secret_spark.kernel.langid import detect_batch
    from top_secret_spark.kernel.perplexity import perplexity_batch
    from top_secret_spark.kernel.quality import keep_drop
    from top_secret_spark.kernel.scrub import filter_text
    from top_secret_spark.pipeline import DEFAULT_PIPELINE

    langs, confs = detect_batch([text])
    ppl = float(perplexity_batch([text])[0])
    keep, reason = keep_drop(text, langs[0], float(confs[0]), ppl,
                             DEFAULT_PIPELINE.thresholds)
    scrubbed = (filter_text(text, None, DEFAULT_PIPELINE.scrub)[0]
                if keep else None)
    return {"keep": bool(keep), "drop_reason": reason, "scrubbed": scrubbed}


def sample_failures(data: pd.DataFrame, inputs: pd.DataFrame, seed: int,
                    with_audio: bool) -> tuple[int, dict]:
    """Recompute a seeded sample of clips in the driver and compare."""
    from top_secret_spark.kernel.audio import SUPPORTED_CODECS

    rng = np.random.default_rng([0xC4EC, seed])
    pick = rng.choice(len(inputs), min(SAMPLE_CLIPS, len(inputs)), replace=False)
    got = data.drop_duplicates("clip_id").set_index("clip_id")
    bad = []
    for row in inputs.iloc[np.sort(pick)].itertuples():
        want = scalar_reference(row.transcript)
        if with_audio:
            want["decode_ok"] = row.codec in SUPPORTED_CODECS
        if row.clip_id not in got.index:
            bad.append(row.clip_id)
            continue
        have = got.loc[row.clip_id]
        if any(not _same(have[k], v) for k, v in want.items()):
            bad.append(row.clip_id)
    return len(bad), {"sampled": len(pick), "mismatched": bad[:5]}


def _same(a, b) -> bool:
    return (pd.isna(a) and b is None) or a == b
