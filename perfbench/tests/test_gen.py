"""The seeded generator: deterministic per seed, and shaped like the
sf0.1 test tables.

The shape test compares against the sf0.1 test tables: the directory
``bench.py`` benches, ``SPARK_GRAFT_SF_DIR`` or its default. It is
skipped only when that directory holds no tables.

    python -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, PERFBENCH)
sys.path.insert(0, os.path.dirname(PERFBENCH))  # repository root: bench.py

import gen  # noqa: E402
from bench import SF_DIR  # noqa: E402

SF01 = (5000, 2000, 100_000)


def _read(d, name):
    return pq.read_table(os.path.join(d, f"{name}.parquet")).to_pandas()


def test_same_seed_same_tables(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_tables(str(a), 5, 300, 100, 2000)
    gen.write_tables(str(b), 5, 300, 100, 2000)
    gen.write_tables(str(c), 6, 300, 100, 2000)
    for name in ("documents", "embeddings", "events"):
        assert _read(a, name).equals(_read(b, name))
    da, dc = _read(a, "documents"), _read(c, "documents")
    assert (da.doc_id == dc.doc_id).all()  # geo points derive from ids
    assert not da.text.equals(dc.text)


def test_row_counts_and_dense_ids(tmp_path):
    counts = gen.write_tables(str(tmp_path), 1, 300, 100, 2000)
    assert counts == {"documents": 300, "embeddings": 100, "events": 2000}
    for name, col in (("documents", "doc_id"), ("embeddings", "vec_id"),
                      ("events", "event_id")):
        ids = _read(tmp_path, name)[col].to_numpy()
        assert (ids == np.arange(len(ids))).all()


@pytest.fixture(scope="module")
def reference():
    if not os.path.exists(os.path.join(SF_DIR, "documents.parquet")):
        pytest.skip(f"no sf0.1 test tables in {SF_DIR}")
    return SF_DIR


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf01")
    gen.write_tables(str(out), 42, *SF01)
    return out


@pytest.mark.parametrize("name", ["documents", "embeddings", "events"])
def test_schema_and_rows_match_reference(reference, generated, name):
    ref = pq.read_table(os.path.join(reference, f"{name}.parquet"))
    got = pq.read_table(os.path.join(generated, f"{name}.parquet"))
    assert got.schema.remove_metadata().equals(ref.schema.remove_metadata())
    assert got.num_rows == ref.num_rows


def _doc_shape(d):
    toks = d.text.str.split()
    return {
        "vocab": set(t for ts in toks for t in ts),
        "dup_share": d.text.str.endswith(" dup").mean(),
        "langs": d.lang.value_counts(normalize=True).to_dict(),
        "sources": d.source.nunique(),
        "min_toks": toks.str.len().min(),
        "max_toks": toks.str.len().max(),
        "n_chars_is_len": bool((d.n_chars == d.text.str.len()).all()),
    }


def test_documents_shape(reference, generated):
    ref = _doc_shape(_read(reference, "documents"))
    got = _doc_shape(_read(generated, "documents"))
    assert got["vocab"] == ref["vocab"]
    assert abs(got["dup_share"] - ref["dup_share"]) < 0.015
    assert set(got["langs"]) == set(ref["langs"])
    for lang, share in ref["langs"].items():
        assert abs(got["langs"][lang] - share) < 0.03, lang
    for key in ("sources", "n_chars_is_len"):
        assert got[key] == ref[key], key
    assert abs(got["min_toks"] - ref["min_toks"]) <= 1
    assert abs(got["max_toks"] - ref["max_toks"]) <= 1


def _emb_shape(e):
    x = np.stack(e.embedding.to_numpy()).astype(np.float64)
    means = [np.linalg.norm(x[e.label == c].mean(0)) for c in sorted(e.label.unique())]
    return np.linalg.norm(x, axis=1), np.array(means), e.label.nunique()


def test_embeddings_shape(reference, generated):
    ref_norms, ref_means, ref_labels = _emb_shape(_read(reference, "embeddings"))
    norms, means, labels = _emb_shape(_read(generated, "embeddings"))
    assert np.allclose(norms, 1.0, atol=1e-5)
    assert labels == ref_labels
    assert abs(np.median(means) - np.median(ref_means)) < 0.015


def test_events_shape(reference, generated):
    ref, got = _read(reference, "events"), _read(generated, "events")
    per_1k = lambda ev: 1000 * ev.user_id.nunique() / len(ev)  # noqa: E731
    assert abs(per_1k(got) - per_1k(ref)) < 0.5
    assert set(got.event_type) == set(ref.event_type)
    assert got.ts.is_monotonic_increasing
    span = lambda ev: (ev.ts.max() - ev.ts.min()).days  # noqa: E731
    assert abs(span(got) - span(ref)) <= 1
    assert abs(got.value.mean() - ref.value.mean()) < 2.0
    assert set(got.props.str.len()) <= set(ref.props.str.len())
