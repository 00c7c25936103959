"""The artifact store's manifest-write contract (pipeline/artifact.py),
run against every manifest-bearing artifact: a crash INSIDE a manifest
write leaves the previous manifest, never a torn one. The next reader
gets the documented answer — "no committed artifact" after a crashed
build or retrain (which invalidated the old manifest first), the
unchanged previous manifest after a crashed append — and never a
JSONDecodeError. The torn bytes sit in the store's `_*.tmp` file, which
no reader opens."""

import glob
import importlib
import json
import os
import types

import pytest

from ocr_spark.pipeline import artifact

CORPUS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "one two three four five six seven eight nine ten"),
    (3, "red orange yellow green blue indigo violet pink black white"),
]
BATCH = [(11, "completely unrelated fresh content nothing shared at all ok")]


def _docs(spark, rows=CORPUS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sourced(spark, rows=CORPUS):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long")


def _vectors(spark):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(64)])
         for i in range(8)],
        "vec_id long, embedding array<double>")


def _labeled(spark):
    from ocr_spark.operators.classifier import training_corpus
    return spark.createDataFrame(training_corpus(), "text string, label int")


# artifact module -> (build(spark, mod, dir), append(spark, mod, dir) or None)
ARTIFACTS = {
    "dedup_index": (
        lambda s, m, d: m.build_dedup_index(s, _docs(s), d),
        lambda s, m, d: m.append_batch(s, d, _docs(s, BATCH), "crawl-1")),
    "bloom_filter": (
        lambda s, m, d: m.build_bloom_filter(s, _docs(s), d),
        lambda s, m, d: m.append_batch(s, d, _docs(s, BATCH), "crawl-1")),
    "corpus_stats": (
        lambda s, m, d: m.build_stats(s, _sourced(s), d),
        lambda s, m, d: m.append_stats(s, d, _sourced(s, BATCH), "crawl-1")),
    "ann_index": (
        lambda s, m, d: m.build_lsh_index(s, _vectors(s), d), None),
    "classifier": (
        lambda s, m, d: m.train_classifier(s, _labeled(s), d), None),
    "tokenizer": (
        lambda s, m, d: m.train_tokenizer(s, _docs(s), d, n_merges=4), None),
}


def _tear_manifest_writes(mp):
    """The store's JSON write emits half the manifest, then crashes."""
    def dump(obj, f, **kw):
        text = json.dumps(obj, **kw)
        f.write(text[:len(text) // 2])
        raise RuntimeError("simulated crash inside the manifest write")
    mp.setattr(artifact, "json",
               types.SimpleNamespace(dump=dump, load=json.load))


def _reader_sees(mod, d):
    """The committed manifest, or None for "no committed artifact"."""
    try:
        return mod.read_manifest(d)
    except FileNotFoundError:
        return None


@pytest.mark.parametrize("name", sorted(ARTIFACTS))
def test_torn_manifest_write_never_reaches_readers(spark, tmp_path,
                                                   monkeypatch, name):
    mod = importlib.import_module(f"ocr_spark.pipeline.{name}")
    build, append = ARTIFACTS[name]
    d = str(tmp_path / name)
    committed = build(spark, mod, d)
    assert _reader_sees(mod, d) == committed

    if append is not None:
        with monkeypatch.context() as mp:
            _tear_manifest_writes(mp)
            with pytest.raises(RuntimeError, match="simulated crash"):
                append(spark, mod, d)
        assert _reader_sees(mod, d) == committed

    with monkeypatch.context() as mp:
        _tear_manifest_writes(mp)
        with pytest.raises(RuntimeError, match="simulated crash"):
            build(spark, mod, d)
    assert _reader_sees(mod, d) is None

    # the torn bytes are in the store's tmp file, which no reader opens
    stray = glob.glob(os.path.join(d, "_*.tmp"))
    assert len(stray) == 1
    with open(stray[0]) as f, pytest.raises(json.JSONDecodeError):
        json.load(f)
    # a clean re-run commits over it and leaves no tmp behind
    rebuilt = build(spark, mod, d)
    assert _reader_sees(mod, d) == rebuilt
    assert glob.glob(os.path.join(d, "_*.tmp")) == []
