import numpy as np

import gen

COMPS = [("a", 1), ("b", 2)]


def test_markdown_corpus_is_seeded():
    one, again, other = (gen.markdown_corpus(s, 20, COMPS) for s in (3, 3, 4))
    assert one.docs == again.docs and one.expected == again.expected
    assert one.docs != other.docs
    for c in (one, other):
        assert len(c.expected) == 40
        assert all(sum(1 for e in c.expected if e[0].startswith(f"docs/{n}/")) == 20 for n, _ in COMPS)


def test_markdown_corpus_has_every_shape():
    c = gen.markdown_corpus(1, 200, COMPS)
    texts = [t for docs in c.docs.values() for _, t in docs]
    urls = [u for docs in c.docs.values() for u, _ in docs]
    assert any("\n## " in t or t.startswith("# ") for t in texts)  # ATX
    assert any("\n===" in t for t in texts)  # setext
    assert any("#" not in t and "\n===" not in t for t in texts)  # header-less
    assert any(u.endswith(".mdx") for u in urls)
    assert any(len(x[2]) == gen.MAX_CHUNK for x in c.expected)  # over-long sections
    assert all(len(x[2]) <= gen.MAX_CHUNK for x in c.expected)


def test_query_batches_are_seeded():
    args = (["ivf", "component"], 2, {"ivf": 4, "component": 4}, 8, 16, 4)
    a, b, c = (gen.query_batches(s, *args) for s in (1, 1, 2))
    assert all(np.array_equal(x.vecs, y.vecs) and x.components == y.components for x, y in zip(a, b))
    assert not all(np.array_equal(x.vecs, y.vecs) for x, y in zip(a, c))
    assert [x.kind for x in a] == ["ivf", "component", "ivf", "component"]
    assert len({int(q) for x in a for q in x.ids}) == 16


def test_curate_plan_is_seeded():
    a, b, c = (gen.curate_plan(s, 200, 50, 8) for s in (5, 5, 6))
    assert a.low_quality == b.low_quality and a.exact_copies == b.exact_copies
    assert np.array_equal(a.vecs, b.vecs)
    assert a.doc_ids != c.doc_ids and not np.array_equal(a.vecs, c.vecs)
    assert all(d % 10 == 1 and p == d - 1 for p, d in a.near_pairs)
    assert not set(a.exact_copies.values()) & a.low_quality


def test_spark_inputs_are_seeded(spark):
    def docs(seed):
        t = gen.curate_plan(seed, 60, 10, 4)
        return gen.curate_docs(spark, t), t

    (d1, t1), (d2, _), (d3, _) = docs(7), docs(7), docs(8)
    assert d1 == d2 and d1 != d3
    assert len(d1) == 60 + len(t1.exact_copies)
    assert all(d1[c] == d1[o] for c, o in t1.exact_copies.items())
    assert all(d1[d] == gen.low_quality_text(d) for d in t1.low_quality)
    assert all(len(d1[d].split()) == 24 for d in t1.doc_ids if d not in t1.low_quality)
