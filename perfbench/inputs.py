"""Seeded benchmark inputs, written as parquet clip tables with pyarrow.

Every input is a pure function of (generator, seed, rows): row ``r`` of a
table is generated from its absolute index ``seed * rows + r``,
so the same seed gives byte-identical tables however the rows are split
into files, and different seeds give disjoint clip ids.  Generation runs in
this process only (no Spark), and its time is reported apart from every
metric.

Inputs are cached under ``<cache>/<key>/`` where the key covers the
generator, seed, rows, file split and a hash of the generator sources, so
editing a generator (here or in ``top_secret_spark/sources/clips.py`` or
the audio synthesis it calls) regenerates instead of reusing stale files.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd

KINDS = ("text_mix", "pii_dense", "audio_mix")
# inputs kept in the cache; older ones are removed
MAX_CACHED = 8
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GENERATOR_SOURCES = (
    os.path.join(_ROOT, "perfbench", "inputs.py"),
    os.path.join(_ROOT, "top_secret_spark", "sources", "clips.py"),
    os.path.join(_ROOT, "top_secret_spark", "kernel", "audio.py"),
)

PII_DENSE_SENTENCES = 3
PII_DENSE_TEMPLATES = 3


def generator_hash() -> str:
    """sha256 over the generator sources (first 12 hex digits)."""
    h = hashlib.sha256()
    for path in GENERATOR_SOURCES:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def pii_dense_rows(start: int, end: int) -> pd.DataFrame:
    """Long English rows: three clean sentences interleaved with three
    PII templates (e-mails, card numbers, phones, SSNs).  Every row passes
    the quality gate and carries at least three entities, so the scrub
    regexes, the substitution and the >=8-word bigram loop run on each."""
    from top_secret_spark.sources.clips import (
        _EN_SENTENCES,
        _PII_TEMPLATES,
        _cc,
        _email,
        _phone,
        _ssn,
    )

    ids, texts = [], []
    for r in range(start, end):
        rng = np.random.default_rng([0x5EED, r])
        sent = rng.choice(len(_EN_SENTENCES), PII_DENSE_SENTENCES, replace=False)
        tpl = rng.choice(len(_PII_TEMPLATES), PII_DENSE_TEMPLATES, replace=False)
        parts = []
        for k in range(PII_DENSE_TEMPLATES):
            v = r * PII_DENSE_TEMPLATES + k  # distinct values per template
            parts.append(_EN_SENTENCES[sent[k]])
            parts.append(_PII_TEMPLATES[tpl[k]].format(
                email=_email(v), email2=_email(v, 1), phone=_phone(v),
                ssn=_ssn(v), cc=_cc(v), cc2=_cc(v, 1),
            ))
        ids.append(f"clip-{r:010d}")
        texts.append(" ".join(parts))
    n = end - start
    return pd.DataFrame({
        "clip_id": ids,
        "bytes": [b""] * n,
        "sr_hz": np.full(n, 16000, dtype="int32"),
        "dur_ms": np.full(n, 1000, dtype="int32"),
        "codec": ["pcm16"] * n,
        "transcript": texts,
    })


def rows(kind: str, start: int, end: int) -> pd.DataFrame:
    """Rows [start, end) of the table of generator ``kind``."""
    from top_secret_spark.sources.clips import rows_for_range

    if kind == "text_mix":
        return rows_for_range(start, end, with_audio=False)
    if kind == "audio_mix":
        return rows_for_range(start, end, with_audio=True)
    if kind == "pii_dense":
        return pii_dense_rows(start, end)
    raise ValueError(f"unknown generator {kind!r}")


def write_table(path: str, kind: str, seed: int, n_rows: int, n_files: int) -> None:
    """Write the ``kind`` table for ``seed`` as ``n_files`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    base = seed * n_rows
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    for i in range(n_files):
        df = rows(kind, base + bounds[i], base + bounds[i + 1])
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def ensure_input(cache_dir: str, kind: str, seed: int, n_rows: int,
                 n_files: int) -> tuple[str, bool]:
    """Path of the cached input table, generating it when missing.
    Returns (path, generated)."""
    key = f"{kind}-s{seed}-n{n_rows}-f{n_files}-{generator_hash()}"
    path = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        return path, False
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_table(tmp, kind, seed, n_rows, n_files)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    entries = sorted((os.path.join(cache_dir, e) for e in os.listdir(cache_dir)),
                     key=os.path.getmtime)
    for old in entries[:-MAX_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return path, True


def input_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def read_input(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """The input table (or some of its columns), in file order."""
    import pyarrow.parquet as pq

    return pd.concat(
        [pq.read_table(f, columns=columns).to_pandas() for f in input_files(path)],
        ignore_index=True,
    )
