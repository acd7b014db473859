"""The generator's ground truth at a tiny size."""

import difflib

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen


@pytest.fixture(scope="module")
def migrate(tmp_path_factory):
    return gen.generate("recon_migrate", 7, str(tmp_path_factory.mktemp("w")), scale=0.01)


def _side(inputs, side):
    t = pq.read_table(f"{inputs.root}/{side}/lineitem.parquet").to_pandas()
    t["id"] = t.l_orderkey.astype(str) + "_" + t.l_linenumber.astype(str)
    return t.set_index("id")


def test_migrate_truth_matches_the_files(migrate):
    src, tgt = _side(migrate, "src"), _side(migrate, "tgt")
    truth = migrate.truth
    assert src.index.is_unique and tgt.index.is_unique
    assert truth["properties"]["duplicate_id_share"] == 0.0
    assert sorted(set(tgt.index) - set(src.index)) == truth["missing_in_src"]["ids"]
    assert sorted(set(src.index) - set(tgt.index)) == truth["missing_in_tgt"]["ids"]
    both = src.index.intersection(tgt.index)
    ratio = {
        i: difflib.SequenceMatcher(None, src.l_comment[i], tgt.l_comment[i]).ratio()
        for i in both
        if src.l_comment[i] != tgt.l_comment[i]
    }
    reported = sorted(i for i, r in ratio.items() if r < gen.MIGRATE_THRESHOLD)
    near = sorted(i for i, r in ratio.items() if r >= gen.MIGRATE_THRESHOLD)
    assert reported == truth["differing"]["ids"]
    assert near == truth["near_misses"]
    assert len(reported) == len(near) == truth["differing"]["count"] > 0


def test_same_seed_same_inputs(tmp_path, migrate):
    again = gen.generate("recon_migrate", 7, str(tmp_path), scale=0.01)
    for side in ("src", "tgt"):
        a = pq.read_table(f"{migrate.root}/{side}/lineitem.parquet")
        b = pq.read_table(f"{again.root}/{side}/lineitem.parquet")
        assert a.equals(b)
    other = gen.generate("recon_migrate", 8, str(tmp_path), scale=0.01)
    assert other.truth["differing"]["ids"] != migrate.truth["differing"]["ids"]


def test_corpus_duplicates(tmp_path):
    inputs = gen.generate("curate_corpus", 3, str(tmp_path), scale=0.2)
    docs = pq.read_table(f"{inputs.root}/corpus/documents.parquet").to_pandas().set_index("doc_id")
    emb = pq.read_table(f"{inputs.root}/corpus/embeddings.parquet").to_pandas().set_index("vec_id")
    assert list(docs.index) == list(emb.index)
    assert (docs.n_chars == docs.text.str.len()).all()
    groups = inputs.truth["exact_dup_groups"]
    assert groups
    for group in groups:
        assert docs.text[group].nunique() == 1
        vecs = np.stack(emb.embedding[group].values)
        assert (vecs == vecs[0]).all()
    for a, b in inputs.truth["near_dup_pairs"]:
        wa, wb = docs.text[a].split(), docs.text[b].split()
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) <= 1
