"""The output checks count failed clips."""

import pandas as pd

from perfbench import checks

COLUMNS = ["clip_id", "keep", "drop_reason", "scrubbed"]


def _lineage(rows):
    return pd.DataFrame(rows, columns=["bucket", "n_rows", "status"])


def test_lineage_accounting():
    full = [(b, 10, "complete") for b in range(4)]
    assert checks.lineage_failures(_lineage(full), 4, 40)[0] == 0
    assert checks.lineage_failures(_lineage(full), 4, 41)[0] == 1
    assert checks.lineage_failures(_lineage(full[:3]), 4, 30)[0] == 1
    twice = full + [(2, 10, "complete")]
    failed, info = checks.lineage_failures(_lineage(twice), 4, 40)
    assert (failed, info["recommitted_rows"]) == (10, 10)


def _out(rows):
    return pd.DataFrame(rows, columns=COLUMNS)


def test_output_accounting():
    ref = _out([("a", True, None, "x"), ("b", False, "lang", None),
                ("c", True, None, "[EMAIL_1]")])
    ids = ref["clip_id"]
    failed, info = checks.output_failures(ids, ref.copy(), ref, COLUMNS)
    assert failed == 0 and info["content_hash"] == info["reference_hash"]
    bad = _out([("a", True, None, "x"), ("a", True, None, "x"),
                ("c", True, None, "y"), ("z", True, None, "q")])
    failed, info = checks.output_failures(ids, bad, ref, COLUMNS)
    assert {k: info[k] for k in ("missing", "unexpected", "duplicated", "differ")} \
        == {"missing": 1, "unexpected": 1, "duplicated": 1, "differ": 1}
    assert failed == 4


def test_content_hash_ignores_row_order():
    a = _out([("a", True, None, "x"), ("b", False, "lang", None)])
    assert checks.content_hash(a) == checks.content_hash(a.iloc[::-1])
    assert checks.content_hash(a) != checks.content_hash(a.iloc[:1])


def test_sample_compares_with_the_scalar_references():
    from perfbench import inputs

    pdf = inputs.pii_dense_rows(0, 5)
    data = pd.DataFrame([
        dict(clip_id=r.clip_id, **checks.scalar_reference(r.transcript))
        for r in pdf.itertuples()
    ])
    assert checks.sample_failures(data, pdf, seed=1, with_audio=False)[0] == 0
    data.loc[2, "scrubbed"] = "tampered"
    assert checks.sample_failures(data, pdf, seed=1, with_audio=False)[0] == 1
