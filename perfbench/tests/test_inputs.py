"""Input generation: seeded, split-invariant, cached by generator source."""

import os

import pandas as pd
import pytest

from perfbench import checks, inputs


def _table(path):
    return inputs.read_input(path)


@pytest.mark.parametrize("kind", inputs.KINDS)
def test_same_rows_whatever_the_file_split(tmp_path, kind):
    one, five = tmp_path / "one", tmp_path / "five"
    inputs.write_table(str(one), kind, seed=3, n_rows=23, n_files=1)
    inputs.write_table(str(five), kind, seed=3, n_rows=23, n_files=5)
    assert len(inputs.input_files(str(five))) == 5
    pd.testing.assert_frame_equal(_table(one), _table(five))


@pytest.mark.parametrize("kind", inputs.KINDS)
def test_seed_decides_the_rows(tmp_path, kind):
    for name, seed in (("a", 4), ("b", 4), ("c", 5)):
        inputs.write_table(str(tmp_path / name), kind, seed, n_rows=12, n_files=2)
    a, b, c = (_table(tmp_path / n) for n in "abc")
    pd.testing.assert_frame_equal(a, b)
    assert not set(a["clip_id"]) & set(c["clip_id"])
    assert list(a.columns) == list(c.columns)


def test_cache_regenerates_when_a_generator_source_changes(tmp_path, monkeypatch):
    src = tmp_path / "gen.py"
    src.write_text("v1")
    monkeypatch.setattr(inputs, "GENERATOR_SOURCES", (str(src),))
    cache = str(tmp_path / "cache")
    first, generated = inputs.ensure_input(cache, "text_mix", 1, 8, 2)
    assert generated
    again, generated = inputs.ensure_input(cache, "text_mix", 1, 8, 2)
    assert (again, generated) == (first, False)
    src.write_text("v2")
    changed, generated = inputs.ensure_input(cache, "text_mix", 1, 8, 2)
    assert generated and changed != first
    # the key also covers seed, rows and split
    keys = {inputs.ensure_input(cache, "text_mix", *a)[0]
            for a in ((2, 8, 2), (1, 9, 2), (1, 8, 3))}
    assert len(keys | {changed}) == 4


def test_cache_keeps_a_bounded_number_of_inputs(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "MAX_CACHED", 2)
    cache = str(tmp_path / "cache")
    for seed in range(4):
        inputs.ensure_input(cache, "pii_dense", seed, 4, 1)
    assert len(os.listdir(cache)) == 2


def test_every_pii_dense_row_is_kept_with_three_entities():
    from top_secret_spark.kernel.scrub import scan_text
    from top_secret_spark.pipeline import DEFAULT_PIPELINE

    df = inputs.pii_dense_rows(0, 300)
    for text in df["transcript"]:
        assert checks.scalar_reference(text)["keep"], text
        assert len(scan_text(text, None, DEFAULT_PIPELINE.scrub)) >= 3, text
    assert 380 <= df["transcript"].str.len().mean() <= 480
