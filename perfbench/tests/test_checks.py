"""The output checks accept the truth and refuse a wrong answer."""

import gzip
import json
import os

import pyarrow.parquet as pq
import pytest

import gen
import workloads as W


def _write_csv(path, header, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.csv"), "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join("" if v is None else v for v in r) + "\n")


def _recon_output(inputs, out, drop_one=False):
    t = inputs.truth
    m1, m2, d = t["missing_in_src"]["ids"], t["missing_in_tgt"]["ids"], t["differing"]["ids"]
    if drop_one:
        m1 = m1[1:]
    n = max(len(m1), len(m2), len(d))
    pad = lambda xs: xs + [None] * (n - len(xs))  # noqa: E731
    cells = [f"{{'id': '{i}'}}" for i in d]
    _write_csv(
        os.path.join(out, "report.csv"),
        ["missing_in_src", "missing_in_tgt", "differing_values"],
        zip(pad(m1), pad(m2), pad(cells)),
    )
    _write_csv(
        os.path.join(out, "report.csv_differing_values.csv"),
        ["id", "l_comment_src", "l_comment_tgt"],
        [(i, "a", "b") for i in d],
    )


@pytest.fixture(scope="module")
def migrate(tmp_path_factory):
    return gen.generate("recon_migrate", 5, str(tmp_path_factory.mktemp("w")), scale=0.01)


def test_check_recon_accepts_the_truth(migrate, tmp_path):
    _recon_output(migrate, str(tmp_path))
    W.check_recon(migrate, str(tmp_path))


def test_check_recon_refuses_a_missing_id(migrate, tmp_path):
    _recon_output(migrate, str(tmp_path), drop_one=True)
    with pytest.raises(W.CheckFailed):
        W.check_recon(migrate, str(tmp_path))


def _curate_output(inputs, out, doc_ids):
    docs = pq.read_table(f"{inputs.root}/corpus/documents.parquet").to_pandas().set_index("doc_id")
    os.makedirs(os.path.join(out, "examples"), exist_ok=True)
    with gzip.open(os.path.join(out, "examples", "part-00000.json.gz"), "wt") as f:
        for i in doc_ids:
            f.write(json.dumps({"doc_id": i, "text": docs.text[i]}) + "\n")


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return gen.generate("curate_corpus", 5, str(tmp_path_factory.mktemp("c")), scale=0.2)


def test_check_curate(corpus, tmp_path):
    group = corpus.truth["exact_dup_groups"][0]
    keep = [i for i in range(50) if i not in group] + [group[0]]
    _curate_output(corpus, str(tmp_path / "a"), keep)
    W.check_curate(corpus, str(tmp_path / "a"))
    W.check_curate(corpus, str(tmp_path / "a"))
    # a different survivor set for the same seed is refused
    _curate_output(corpus, str(tmp_path / "b"), keep[1:])
    with pytest.raises(W.CheckFailed, match="differs between runs"):
        W.check_curate(corpus, str(tmp_path / "b"))
    # two members of one exact-duplicate group are refused
    _curate_output(corpus, str(tmp_path / "c"), keep + group[1:2])
    with pytest.raises(W.CheckFailed, match="exact-duplicate"):
        W.check_curate(corpus, str(tmp_path / "c"))
