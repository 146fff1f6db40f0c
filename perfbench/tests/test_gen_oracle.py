"""Generator and oracle checks; numpy only, no Spark session.

Run with: python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import numpy as np
import pytest

from perfbench import gen, oracle


def _tokens_one_edit_apart(a: list[str], b: list[str]) -> bool:
    if len(a) == len(b):
        return sum(x != y for x, y in zip(a, b)) <= 1
    if abs(len(a) - len(b)) != 1:
        return False
    short, long_ = (a, b) if len(a) < len(b) else (b, a)
    return any(long_[:i] + long_[i + 1:] == short for i in range(len(long_)))


def test_corpus_is_seeded():
    a = gen.make_corpus(np.random.default_rng(7), 500)
    b = gen.make_corpus(np.random.default_rng(7), 500)
    c = gen.make_corpus(np.random.default_rng(8), 500)
    assert a.keys == b.keys and a.types == b.types
    assert np.array_equal(a.vectors, b.vectors)
    assert not np.array_equal(a.vectors, c.vectors)
    assert a.vectors.shape == (500, gen.DIM)
    assert set(a.types) == {gen.type_name(t) for t in range(gen.N_TYPES)}
    assert np.allclose(np.linalg.norm(a.centers, axis=1), 1.0)


def test_documents_plant_one_token_edits():
    sizes = gen.Sizes(n_docs=300)
    docs = gen.make_documents(np.random.default_rng(3), sizes)
    again = gen.make_documents(np.random.default_rng(3), sizes)
    assert docs.texts == again.texts and docs.planted == again.planted
    assert sorted(docs.ids) == list(range(300))
    assert len(docs.planted) == int(300 * sizes.dup_frac)
    text_of = dict(zip(docs.ids, docs.texts))
    for a, b in docs.planted:
        assert a < b
        assert _tokens_one_edit_apart(text_of[a].split(), text_of[b].split())


def test_schedule_is_whole_rounds_in_fixed_order():
    one = gen.ROUNDS["serve_read"]
    assert gen.op_schedule("serve_read", 2 * gen.ROUND_SECONDS["serve_read"]) == list(one) * 2
    assert gen.op_schedule("ingest_churn", 0.1) == list(gen.ROUNDS["ingest_churn"])
    assert gen.ROUNDS["ingest_churn"].count("put_batch") == 1


def test_trickle_mix():
    kinds = gen.trickle_kinds(np.random.default_rng(1), 16)
    assert len(kinds) == 16
    assert kinds.count("delete") == 5
    assert kinds.count("put_ow") == 6 and kinds.count("put_new") == 5
    assert kinds == gen.trickle_kinds(np.random.default_rng(1), 16)


def test_brute_topk_breaks_ties_by_key():
    keys = ["b", "a", "c", "d"]
    mat = np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [3.0, 0.0]])
    assert oracle.brute_topk(keys, mat, [0.0, 0.0], 3) == [("a", 1.0), ("b", 1.0), ("c", 1.0)]


def test_check_exact():
    truth = [("a", 1.0), ("b", 2.0), ("c", 3.0)]
    assert oracle.check_exact(truth, truth) is None
    assert oracle.check_exact([("a", 1.0), ("b", 2.0), ("x", 3.0)], truth) is None  # tie at k
    assert oracle.check_exact([("a", 1.0), ("x", 2.0), ("c", 3.0)], truth) is not None
    assert oracle.check_exact([("a", 1.0), ("b", 2.5), ("c", 3.0)], truth) is not None
    assert oracle.check_exact(truth[:2], truth) is not None
    assert oracle.check_exact([("a", 1.0), ("a", 2.0), ("c", 3.0)], truth) is not None


def test_model_get_delete_and_filtered_topk():
    m = oracle.StoreModel()
    m.put("k1", np.array([0.0, 0.0]), "t0")
    m.put("k2", np.array([1.0, 0.0]), "t1")
    m.put("k1", np.array([5.0, 0.0]), "t0")
    assert oracle.check_get({"vector": [5.0, 0.0]}, m.get("k1")) is None
    assert oracle.check_get({"vector": [0.0, 0.0]}, m.get("k1")) is not None
    m.delete("k2")
    assert m.get("k2") is None
    assert oracle.check_get(None, m.get("k2")) is None
    assert oracle.check_get({"vector": [1.0, 0.0]}, m.get("k2")) is not None
    assert oracle.model_topk(m, [0.0, 0.0], 5) == [("k1", 25.0)]
    assert oracle.model_topk(m, [0.0, 0.0], 5, "t1") == []


def test_check_approx():
    m = oracle.StoreModel()
    m.put("a", np.array([0.0, 0.0]), "t0")
    m.put("b", np.array([2.0, 0.0]), "t0")
    m.put("b", np.array([1.0, 0.0]), "t0")
    m.put("c", np.array([3.0, 0.0]), "t0")
    m.delete("c")
    q = [0.0, 0.0]
    assert oracle.check_approx([("a", 0.0), ("b", 1.0)], m, q, 2, allow_stale=False) is None
    # a stale score for a re-put key passes only inside the staleness window
    assert oracle.check_approx([("a", 0.0), ("b", 4.0)], m, q, 2, allow_stale=False) is not None
    assert oracle.check_approx([("a", 0.0), ("b", 4.0)], m, q, 2, allow_stale=True) is None
    assert oracle.check_approx([("c", 9.0)], m, q, 2, allow_stale=True) is not None  # deleted
    assert oracle.check_approx([("b", 1.0), ("a", 0.0)], m, q, 2, allow_stale=False) is not None
    assert oracle.recall(["a", "b"], oracle.model_topk(m, q, 2)) == 1.0
    assert oracle.recall(["a"], oracle.model_topk(m, q, 2)) == 0.5


def test_clusters_and_pair_recall():
    ids = [1, 2, 3, 4, 5]
    pairs = [(2, 4), (4, 5)]
    want = {1: 1, 2: 2, 3: 3, 4: 2, 5: 2}
    assert oracle.components(ids, pairs) == want
    assert oracle.check_clusters(want, ids, pairs) is None
    assert oracle.check_clusters({**want, 5: 5}, ids, pairs) is not None
    assert oracle.check_clusters({1: 1, 2: 2}, ids, pairs) is not None
    assert oracle.pair_recall(want, [(2, 5), (1, 3)]) == 0.5


@pytest.mark.parametrize(
    "n, index, pct",
    [(11, 0, 100 / 11), (40, 29, 75.0), (100, 89, 90.0), (5, 0, 20.0)],
)
def test_tail_keeps_ten_samples_beyond(n, index, pct):
    xs = list(range(n))[::-1]
    value, percentile, count = oracle.tail(xs)
    assert (value, count) == (index, n)
    assert percentile == pytest.approx(pct)
