import filecmp
import os

import pyarrow.parquet as pq

from perfbench import gen


def _files(d):
    return sorted(os.listdir(d))


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = gen.generate(str(a), "curate", 5)
    assert gen.generate(str(b), "curate", 5) == rows
    gen.generate(str(c), "curate", 6)
    names = _files(a)
    assert names == [f"{t}.parquet" for t in sorted(rows)]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "documents.parquet" in differ


def test_never_rewrites_a_directory(tmp_path):
    gen.generate(str(tmp_path / "d"), "curate", 1)
    try:
        gen.generate(str(tmp_path / "d"), "curate", 1)
    except FileExistsError:
        return
    raise AssertionError("generate overwrote an existing directory")


def test_documents_keep_the_fixture_structure(tmp_path):
    gen.generate(str(tmp_path / "d"), "curate", 3)
    docs = pq.read_table(tmp_path / "d" / "documents.parquet").to_pandas()
    n = len(docs)
    assert (docs.text.str.len() == docs.n_chars).all()
    assert (docs.text.str.endswith(" dup")).sum() == n // 20
    assert docs.text.nunique() < n  # byte-identical copies exist
    words = set(" ".join(docs.text).split()) - {"dup"}
    assert words <= set(gen.VOCAB)
    emb = pq.read_table(tmp_path / "d" / "embeddings.parquet").to_pandas()
    assert len(emb.embedding[0]) == gen.EMB_DIM
    assert set(emb.label) <= set(range(10))
