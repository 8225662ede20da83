"""Tests of the benchmark's own generators and checks (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q

Every check is shown to pass on the right answer and to fail on a
deliberately wrong one.
"""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import worker  # noqa: E402

SMALL = gen.CorpusShape(n_docs=300, vocab=2000, mean_len=90)


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root) for f in fs
    )


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.generate(workload, 3, str(a))
    gen.generate(workload, 3, str(b))
    gen.generate(workload, 4, str(c))
    names = _files(a)
    assert names and names == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch


def test_vocabulary_is_unique_and_oov_marker_unused():
    v = gen.vocabulary(20000)
    assert len(set(v)) == len(v)
    assert not any("q" in w for w in v)


# ---------------------------------------------------------------- tfidf


@pytest.fixture(scope="module")
def tfidf_data(tmp_path_factory):
    d = gen.gen_tfidf(5, str(tmp_path_factory.mktemp("tfidf")), SMALL)
    return d, checks.TfidfOracle(d["vocab"], d["ids"], d["lens"])


def test_oracle_matches_reference_formulas(tfidf_data):
    d, oracle = tfidf_data
    docs = [t.split(" ") for t in gen.join_docs(d["vocab"], d["ids"], d["lens"])]
    word = d["vocab"][d["ids"][0]]
    df = sum(word in set(ws) for ws in docs)
    n = docs[0].count(word)
    tf, got_df, score = oracle.doc_rows([0])[(word, 0)]
    assert got_df == df
    assert tf == pytest.approx(1 + np.log10(n))
    assert score == pytest.approx(tf * np.log10(1 + len(docs) // df))


def test_index_rows_check(tfidf_data):
    _, oracle = tfidf_data
    expected = oracle.doc_rows([1, 2])
    rows = [(w, d, tf, df, s) for (w, d), (tf, df, s) in expected.items()]
    assert checks.check_index_rows(rows, expected) is None
    wrong_score = [rows[0][:4] + (rows[0][4] + 1e-3,)] + rows[1:]
    assert checks.check_index_rows(wrong_score, expected)
    wrong_df = [rows[0][:3] + (rows[0][3] + 1, rows[0][4])] + rows[1:]
    assert checks.check_index_rows(wrong_df, expected)
    assert checks.check_index_rows(rows[1:], expected)
    assert checks.check_index_rows(rows + rows[:1], expected)


def _ranked(scores, k=checks.TOP_K):
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, s, i + 1) for i, (d, s) in enumerate(top)]


def test_top10_check_and_query_kinds(tfidf_data):
    d, oracle = tfidf_data
    for q in d["queries"]:
        scores = oracle.scores(q)
        assert checks.check_top10(_ranked(scores), scores) is None
    assert oracle.scores(d["oov_query"]) == {}
    assert checks.check_top10([], {}) is None
    assert d["oov_query"] not in d["queries"]
    assert any(len(set(q.split())) < len(q.split()) for q in d["queries"])
    assert any("q" in w for q in d["queries"] for w in q.split())
    assert all(oracle.scores(q) for q in d["queries"])
    a, b = d["vocab"][100], d["vocab"][200]
    once, twice = oracle.scores(f"{a} {b}"), oracle.scores(f"{a} {a} {b}")
    single = oracle.scores(a)
    for doc, s in single.items():
        assert twice[doc] == pytest.approx(once[doc] + s)


def test_top10_check_fails_on_wrong_answers():
    scores = {i: float(20 - i) for i in range(15)}
    scores.update({30: 5.0, 31: 5.0})
    good = _ranked(scores)
    assert checks.check_top10(good, scores) is None
    swapped = [good[1][:2] + (1,), good[0][:2] + (2,)] + good[2:]
    assert checks.check_top10(swapped, scores)
    assert checks.check_top10(good[:-1], scores)
    missing = good[:-1] + [(14, scores[14], 10)]
    assert checks.check_top10(missing, scores)
    assert checks.check_top10([(0, 20.5, 1)] + good[1:], scores)
    assert checks.check_top10([(1, 1.0, 1)], {})
    ties = {7: 1.0, 3: 1.0}
    assert checks.check_top10([(3, 1.0, 1), (7, 1.0, 2)], ties) is None
    assert checks.check_top10([(7, 1.0, 1), (3, 1.0, 2)], ties)


# ---------------------------------------------------------------- ann


def test_knn_checks_fail_on_wrong_answers():
    rng = np.random.default_rng(0)
    ids = np.arange(50)
    vecs = rng.normal(size=(50, 4))
    exact = {q: checks.exact_knn(ids, vecs, q, vecs[q]) for q in (0, 1)}
    assert all(q not in exact[q] for q in exact)
    recall, err = checks.check_knn(exact, exact)
    assert err is None and recall == 1.0
    half = {q: v[:5] + [x for x in ids.tolist() if x not in v and x != q][:5]
            for q, v in exact.items()}
    recall, err = checks.check_knn(half, exact)
    assert err is None and recall == 0.5
    assert checks.check_knn({0: exact[0][:9], 1: exact[1]}, exact)[1]
    assert checks.check_knn({0: exact[0][:9] + exact[0][:1], 1: exact[1]}, exact)[1]
    assert checks.check_knn({0: [0] + exact[0][:9], 1: exact[1]}, exact)[1]


def test_twin_check_fails_on_a_missed_copy():
    pairs = [(100, 1), (101, 2)]
    got = {100: [1] + list(range(10, 19)), 101: list(range(20, 29)) + [2]}
    assert checks.check_twins(got, pairs) is None
    got[101] = list(range(20, 30))
    assert "(101, 2)" in checks.check_twins(got, pairs)
    assert checks.check_twins({100: got[100]}, pairs)


def test_ann_twins_are_nearest(tmp_path):
    d = gen.gen_ann(2, str(tmp_path))
    vec = dict(zip(d["base_ids"].tolist(), d["base"]))
    ids = np.concatenate([d["base_ids"], d["ext_ids"]])
    vecs = np.concatenate([d["base"], d["ext"]])
    for q, e in list(zip(d["twin_of"].tolist(), d["ext_ids"].tolist()))[:5]:
        assert checks.exact_knn(ids, vecs, q, vec[q])[0] == e


# ---------------------------------------------------------------- runs


def test_failed_check_leaves_metrics_of_passing_operations(capsys):
    ops = worker.Ops()
    ops.run("build", lambda: ((2.0, 3.0), "wrong answer"))
    ops.run("query", lambda: ((0.5, 0.7), None))
    ops.run("query", lambda: ((0.7, 0.9), None))
    ops.run("rewrite", lambda: (_ for _ in ()).throw(RuntimeError("engine error")))
    assert (ops.attempted, ops.failed, ops.wrong) == (4, 2, {"build"})
    e2e = worker.summarize(ops, [])
    assert e2e == {"query_s": 0.6, "query_cpu_s": 0.8}
    assert worker.summarize(ops, [(0.5, 1), (1.0, 3)])["recall"] == 0.875
    assert "CHECK FAILED build" in capsys.readouterr().err


# ---------------------------------------------------------------- curate


@pytest.fixture(scope="module")
def curate_data(tmp_path_factory):
    return gen.gen_curate(6, str(tmp_path_factory.mktemp("cur")), SMALL)


def _ideal_curation(d):
    drop = {doc for kind in ("exact", "near", "foreign", "lowq") for doc, _ in d["planted"][kind]}
    keep = [i for i in range(len(d["texts"])) if i not in drop]
    splits = ["train"] * 90 + ["valid"] * 5 + ["test"] * 5
    return [(doc, splits[i % 100]) for i, doc in enumerate(keep)]


def test_curated_check_fails_on_wrong_answers(curate_data):
    d = curate_data
    rows = _ideal_curation(d)
    share, err = checks.check_curated(rows, d["planted"], d["texts"])
    assert err is None and share == 1.0
    p = d["planted"]
    for kind in ("exact", "foreign", "lowq"):
        assert checks.check_curated(rows + [(p[kind][0][0], "train")], p, d["texts"])[1]
    src = p["exact"][0][1]
    assert checks.check_curated([r for r in rows if r[0] != src], p, d["texts"])[1]
    all_near = rows + [(doc, "train") for doc, _ in p["near"]]
    assert checks.check_curated(all_near, p, d["texts"])[1]
    skewed = [(doc, "train") for doc, _ in rows]
    assert checks.check_curated(skewed, p, d["texts"])[1]


def test_banding_allowance():
    assert checks.allowed_misses([1.0] * 50) == 0
    assert checks.allowed_misses([0.5] * 50) > 25
    j = 0.95
    assert checks.banding_probability(j) == pytest.approx(1 - (1 - j ** 3) ** 4)


def test_bloom_check_fails_on_wrong_answers(curate_data):
    d = curate_data
    exact = checks.exact_contamination(d["texts"], d["bench"])
    contaminated = [doc for doc, _ in d["planted"]["contam"]]
    rows = [(doc, n, h, h / n) for doc, (n, h) in exact.items()]
    assert checks.check_bloom(rows, exact, contaminated) is None
    assert all(exact[doc][1] == exact[doc][0] for doc in contaminated)
    hit = next(i for i, r in enumerate(rows) if r[2] > 0)
    fn = list(rows)
    fn[hit] = (fn[hit][0], fn[hit][1], fn[hit][2] - 1, fn[hit][3])
    assert checks.check_bloom(fn, exact, contaminated)
    fp = [(doc, n, n, 1.0) for doc, n, _, _ in rows]
    assert checks.check_bloom(fp, exact, contaminated) is None
    unflagged = [(doc, n, h, 0.0 if doc == contaminated[0] else r)
                 for doc, n, h, r in rows]
    assert checks.check_bloom(unflagged, exact, contaminated)
    assert checks.check_bloom(rows[1:], exact, contaminated)
