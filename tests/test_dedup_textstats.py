"""Dedup + text-stats operator tests (SURVEY §2.J)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chatbot_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from chatbot_spark.operators.embed import hash_embed_one
from chatbot_spark.operators.textstats import langid, quality_score, token_count


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1
            (3, near),  # near dup of 1
            (4, "completely different words about spark query engines at scale"),
            (5, "el la de los que y es una frase en castellano corta"),
        ],
        "doc_id INT, text STRING",
    )


def test_exact_dedup(spark, docs):
    kept = exact_dedup(docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5]  # 2 collapsed into 1 (min id wins)


def test_exact_dedup_idempotent(spark, docs):
    once = exact_dedup(docs, "text", "doc_id")
    twice = exact_dedup(once, "text", "doc_id")
    assert once.count() == twice.count()


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # exact dup → jaccard 1.0
    assert (1, 3) in got  # one-word change → high jaccard
    exact = next(r for r in pairs if (r["id_a"], r["id_b"]) == (1, 2))
    assert exact["jaccard"] == pytest.approx(1.0)


def test_minhash_matches_exact_on_dups(spark, docs):
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact duplicates always share every band → must be found
    assert (1, 2) in got
    # verification step keeps reported jaccard exact
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert j[(1, 2)] == pytest.approx(1.0)


def test_simhash_exact_dup_zero_hamming(spark, docs):
    pairs = simhash_pairs(docs, max_hamming=16)
    h = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert h.get((1, 2)) == 0
    assert h.get((1, 3), 99) <= 16  # near dup within hamming radius


def test_langid_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in the house of the king is big"),
            (2, "el que de la los y es que de la los es el que"),
        ],
        "id INT, text STRING",
    )
    rows = {r["id"]: r for r in df.select(
        "id", langid(F.col("text")).alias("lang"), quality_score(F.col("text")).alias("q"),
        token_count(F.col("text")).alias("n"),
    ).collect()}
    assert rows[1]["lang"] == "en"
    assert rows[2]["lang"] == "es"
    assert rows[1]["n"] == 13
    assert 0.0 <= rows[1]["q"] <= 1.0


def test_hash_embedder_deterministic_unit():
    a = hash_embed_one("same text", 64)
    b = hash_embed_one("same text", 64)
    c = hash_embed_one("other text", 64)
    assert a == b
    assert a != c
    assert sum(x * x for x in a) == pytest.approx(1.0)


def test_resolve_duplicate_clusters(spark):
    """Chain a-b-c collapses to min(a); disjoint pair keeps its own min;
    transitivity crosses multiple hops."""
    from chatbot_spark.operators.dedup import resolve_duplicate_clusters

    pairs = spark.createDataFrame(
        [(3, 7), (7, 9), (20, 21), (9, 11), (40, 2)], "id_a LONG, id_b LONG"
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in resolve_duplicate_clusters(pairs).collect()
    }
    assert got == {3: 3, 7: 3, 9: 3, 11: 3, 20: 20, 21: 20, 40: 2, 2: 2}


def test_resolve_duplicate_clusters_cutover_boundary_and_string_ids(spark):
    """The hybrid cutover pins: exactly AT driver_threshold the edge set
    still takes the driver union-find (collected via Arrow — r7 verdict
    item 7), one below forces the distributed recurrence, and both agree;
    string ids survive the Arrow round-trip (the id-type passthrough
    contract)."""
    from chatbot_spark.operators.dedup import resolve_duplicate_clusters

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a STRING, id_b STRING"
    )
    at = resolve_duplicate_clusters(pairs, driver_threshold=3).collect()
    below = resolve_duplicate_clusters(pairs, driver_threshold=2).collect()
    want = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert {r["doc_id"]: r["canonical_id"] for r in at} == want
    assert sorted(map(tuple, at)) == sorted(map(tuple, below))


def test_backend_registry_matches_reference_dispatch():
    """The BACKENDS registry mirrors the reference's EMBEDDED_TYPE factory
    (base.py:21-66: default/ollama/openai) plus its BGE-M3 model; unknown
    backends raise like the factory's invalid-type branch."""
    from chatbot_spark.operators.embed import BACKENDS, get_embedder

    assert {"hash", "openai", "ollama", "bge", "sentence_transformers"} <= set(BACKENDS)
    with pytest.raises(ValueError):
        get_embedder("no_such_backend")
    # gated backends build their UDFs without the model/server present —
    # failure is deferred to first use, like the reference's lazy imports
    for name in ("openai", "ollama", "bge", "sentence_transformers"):
        assert get_embedder(name) is not None


def test_colbert_maxsim_identity_ranks_self_first(spark):
    """MaxSim of a doc against itself is 1.0 (every token matches itself
    at dot=1 for unit vectors); against a disjoint-token doc it is < 1."""
    from chatbot_spark.functions.vector import maxsim
    from chatbot_spark.operators.embed import multi_embed_documents

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon zeta")], "doc_id LONG, text STRING"
    )
    emb = multi_embed_documents(df, text_col="text", out_col="me", dim=16)
    a = emb.filter("doc_id = 0").select(F.col("me.colbert").alias("qa"))
    pairs = a.crossJoin(emb.select(F.col("doc_id"), F.col("me.colbert").alias("cb")))
    rows = {
        r["doc_id"]: r["s"]
        for r in pairs.select("doc_id", maxsim(F.col("qa"), F.col("cb")).alias("s")).collect()
    }
    assert rows[0] == pytest.approx(1.0)
    assert rows[1] < rows[0]


# ---------------------------------------------------------------- round-2 tail


def test_repetition_stats_hand_computed(spark):
    from chatbot_spark.operators.textstats import with_repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "x y x y x y")],
        "doc_id INT, text STRING",
    )
    rows = {r.doc_id: r for r in with_repetition_stats(df).collect()}
    # doc 1: 4 tokens, 1 distinct, top count 4, 2-grams ['a a']*3 all dup
    assert rows[1].n_tokens == 4
    assert rows[1].top_token_count == 4
    assert rows[1].distinct_token_ratio == 0.25
    assert abs(rows[1].dup_ngram_frac - (1 - 1 / 3)) < 1e-12
    # doc 2: all distinct
    assert rows[2].distinct_token_ratio == 1.0
    assert rows[2].top_token_count == 1
    assert rows[2].dup_ngram_frac == 0.0
    # doc 3: 'x y' x3 + 'y x' x2 → 2 distinct of 5 grams
    assert rows[3].top_token_count == 3
    assert abs(rows[3].dup_ngram_frac - (1 - 2 / 5)) < 1e-12


def test_decontaminate_flags_and_filters(spark):
    from chatbot_spark.operators.decontam import decontaminate, ngram_overlap_flags

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight"),
            (3, "unrelated words entirely separate content here now"),
        ],
        "doc_id INT, text STRING",
    )
    bench = spark.createDataFrame(
        [("beta gamma delta epsilon",), ("nothing matching at all",)], "text STRING"
    )
    flags = ngram_overlap_flags(corpus, bench, n=4).collect()
    assert [(r.doc_id, r.n_hit_grams) for r in flags] == [(1, 1)]
    clean = decontaminate(corpus, bench, n=4)
    assert sorted(r.doc_id for r in clean.select("doc_id").collect()) == [2, 3]


def test_redact_pii_rules_and_order(spark):
    from chatbot_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c@ex.org then ip 192.168.0.1 then 555-010-1234 done"),
            # an @ address containing a dotted quad must redact as ONE email
            (2, "edge u.1.2.3.4@x.yz stays whole"),
            (3, "no pii here"),
        ],
        "doc_id INT, text STRING",
    )
    out = {r.doc_id: r.red for r in df.select("doc_id", redact_pii(F.col("text")).alias("red")).collect()}
    assert out[1] == "mail <EMAIL> then ip <IP> then <PHONE> done"
    assert out[2] == "edge <EMAIL> stays whole"
    assert out[3] == "no pii here"


def test_cms_estimate_bounds_and_merge(spark):
    from chatbot_spark.operators.sketch import cms_build, cms_estimate, cms_merge

    df = spark.createDataFrame(
        [(i % 7,) for i in range(300)] + [(99,)] * 50, "k INT"
    )
    depth, width = 4, 32
    sketch = cms_build(df, "k", depth=depth, width=width)
    # sketch is bounded and every row sums to the input size
    per_row = sketch.groupBy("row_idx").agg(F.sum("cnt").alias("s")).collect()
    assert len(per_row) == depth and all(r.s == 350 for r in per_row)
    probes = df.select("k").distinct()
    est = {r.k: r.est for r in cms_estimate(sketch, probes, "k", depth=depth, width=width).collect()}
    exact = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    for k, e in exact.items():
        assert est[k] >= e  # CMS never undercounts
        assert est[k] <= e + 350  # trivial upper bound
    # merging two half-sketches equals building over the union
    h1 = spark.createDataFrame([(i % 7,) for i in range(150)], "k INT")
    h2 = spark.createDataFrame(
        [(i % 7,) for i in range(150, 300)] + [(99,)] * 50, "k INT"
    )
    m = cms_merge(
        cms_build(h1, "k", depth=depth, width=width),
        cms_build(h2, "k", depth=depth, width=width),
    )
    full = {(r.row_idx, r.bucket): r.cnt for r in sketch.collect()}
    merged = {(r.row_idx, r.bucket): r.cnt for r in m.collect()}
    assert merged == full


def test_cms_dims_mismatch_raises(spark):
    """Probing a d×w sketch with different dimensions must raise at
    execution (wrong-bucket probes silently break est ≥ exact otherwise),
    and so must merging differently-sized sketches."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from chatbot_spark.operators.sketch import cms_build, cms_estimate, cms_merge

    df = spark.createDataFrame([(i % 5,) for i in range(50)], "k INT")
    probes = df.select("k").distinct()
    sketch = cms_build(df, "k", depth=4, width=32)
    with pytest.raises(Exception) as ei:
        cms_estimate(sketch, probes, "k", depth=4, width=64).collect()
    assert "dimension mismatch" in str(ei.value)
    with pytest.raises(Exception) as ei2:
        cms_merge(sketch, cms_build(df, "k", depth=2, width=32)).collect()
    assert "differently-sized" in str(ei2.value)

def test_incremental_dedup_bloom_equals_plain(spark):
    """The Bloom-prefiltered path must produce the identical verdict
    table as the plain left-semi join: the filter only skips
    definitely-unseen rows, and the verify join removes every false
    positive. Covers: seen dup, in-batch dup, unseen unique, and a doc
    seen AND duplicated in-batch."""
    from chatbot_spark.operators.dedup import incremental_dedup

    seen = spark.createDataFrame(
        [(1, "alpha bravo"), (2, "charlie delta"), (3, "echo  foxtrot")],
        "doc_id LONG, text STRING",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha bravo"),        # seen -> 0
            (11, "golf hotel"),         # unseen first -> 1
            (12, "golf hotel"),         # in-batch dup -> 0
            (13, "echo   foxtrot"),     # seen modulo whitespace -> 0
            (14, "india"),              # unseen unique -> 1
            (15, "charlie delta"),      # seen -> 0
            (16, "charlie delta"),      # seen + in-batch dup -> 0
        ],
        "doc_id LONG, text STRING",
    )
    want = {10: 0, 11: 1, 12: 0, 13: 0, 14: 1, 15: 0, 16: 0}
    for use_bloom in (True, False):
        got = {
            r["doc_id"]: r["kept"]
            for r in incremental_dedup(new, seen, use_bloom=use_bloom).collect()
        }
        assert got == want, f"use_bloom={use_bloom}"

    # empty snapshot: pure within-batch keep-first
    empty = seen.limit(0)
    got = {
        r["doc_id"]: r["kept"]
        for r in incremental_dedup(new, empty, use_bloom=True).collect()
    }
    assert got == {10: 1, 11: 1, 12: 0, 13: 1, 14: 1, 15: 1, 16: 0}


def test_duplicated_spans_merge_and_removal(spark):
    """Hand-computed ExactSubstr semantics: window=3, two docs sharing a
    4-token run -> both get ONE merged span covering tokens of that run;
    a doc with no repeats gets none; removal rebuilds the residue."""
    from chatbot_spark.operators.dedup import duplicated_spans, remove_duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d x y z"),       # "a b c d" duplicated vs doc 2
            (2, "p q a b c d r"),       # same run at offset 3..6
            (3, "u v w u v w u v w"),   # self-repeat: windows at 1..7 all dup
            (4, "m n o p q r s"),       # unique
        ],
        "doc_id INT, text STRING",
    )
    spans = duplicated_spans(docs, window=3)
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spans.collect()
    }
    # doc 1: dup windows start 1,2 -> span [1,4]; doc 2: starts 3,4 -> [3,6]
    # doc 3: "u v w" x3 + rotations repeat -> every window 1..7 dup -> [1,9]
    assert got == {(1, 1, 4), (2, 3, 6), (3, 1, 9)}
    clean = {
        r.doc_id: r.clean_text
        for r in remove_duplicated_spans(docs, spans).collect()
    }
    assert clean[1] == "x y z"
    assert clean[2] == "p q r"
    assert clean[3] == ""
    assert clean[4] == "m n o p q r s"


def test_duplicated_spans_short_docs_excluded(spark):
    """Docs shorter than the window can never anchor a shingle — even an
    exact short duplicate pair yields no spans (that is exact_dedup's
    job, not ExactSubstr's)."""
    from chatbot_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id INT, text STRING"
    )
    assert duplicated_spans(docs, window=3).count() == 0


def test_bpe_train_hand_computed(spark):
    """Sennrich's own worked example shape: corpus where 'es' then 'est'
    dominate. Weighted pair counts, total tie-order, greedy merge
    application — all hand-checked."""
    from chatbot_spark.operators.bpe import encoded_token_count, train_bpe

    # widest: 'lowest' x3, 'newest' x2, 'low' x2  ->
    # chars: l o w e s t _ n
    docs = spark.createDataFrame(
        [
            (1, "lowest lowest lowest"),
            (2, "newest newest low"),
            (3, "low"),
        ],
        "doc_id INT, text STRING",
    )
    merges, words = train_bpe(docs, n_merges=3)
    # round 1 pairs: (e,s)=5, (s,t)=5, (t,_)=5, (w,e)=5, (l,o)=5, (o,w)=5 ...
    # tie-order (count DESC, left ASC, right ASC): (e,s) wins round 1;
    # round 2: (es,t)=5 vs (t,_)=5 vs (l,o)=5 ... -> (es,t); round 3 (est,_)=5 vs (l,o)=5 -> (est,_)
    assert [(m[1], m[2]) for m in merges] == [("e", "s"), ("es", "t"), ("est", "_")]
    assert [m[4] for m in merges] == [5, 5, 5]
    # after 3 merges: lowest = l o w est_ (4 syms) x3, newest = n e w est_ (4) x2,
    # low = l o w _ (4) x3  -> 8 words... recount: words lowest(3), newest(2), low(2)
    assert encoded_token_count(words) == 3 * 4 + 2 * 4 + 2 * 4


def test_bpe_rejects_wrapper_chars(spark):
    import pytest

    from chatbot_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame([(1, "a <b>")], "doc_id INT, text STRING")
    with pytest.raises(ValueError):
        train_bpe(docs, n_merges=1)


def test_bpe_rejects_literal_underscore(spark):
    """'_' is the end-of-word marker: a corpus underscore would conflate
    mid-word '_' with word boundaries in the merge table, so it is
    rejected like the '<'/'>' wrappers (round-5 ADVICE)."""
    import pytest

    from chatbot_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame([(1, "snake_case word")], "doc_id INT, text STRING")
    with pytest.raises(ValueError, match="reserved"):
        train_bpe(docs, n_merges=1)


def test_bpe_greedy_self_overlap(spark):
    """'aaaa' with merge (a,a) must apply left-to-right non-overlapping:
    aa aa, not a aa a — the wrapped-symbol replace guarantees it."""
    from chatbot_spark.operators.bpe import train_bpe, _symbols
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id INT, text STRING")
    merges, words = train_bpe(docs, n_merges=1)
    assert (merges[0][1], merges[0][2], merges[0][4]) == ("a", "a", 6)
    syms = words.select(_symbols().alias("s")).first()["s"]
    assert syms == ["aa", "aa", "_"]


def test_salted_join_equals_plain_and_left_semantics(spark):
    """salted_join must be EXACTLY the plain join (each left row matches
    through one salt), including unmatched-left rows appearing once
    under how='left'; right/full are rejected (replication would
    duplicate unmatched right rows)."""
    import pytest

    from chatbot_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(200)] + [(999, "orphan")],
        "id LONG, k STRING",
    )
    right = spark.createDataFrame(
        [("hot", 1), ("cold", 2)], "k STRING, v INT"
    )
    plain = left.join(right, "k", "left")
    salted = salted_join(
        left, right, on=["k"], salt_source=F.col("id"), n_salts=8, how="left"
    )
    assert sorted(map(tuple, salted.select("k", "id", "v").collect())) == sorted(
        map(tuple, plain.select("k", "id", "v").collect())
    )
    with pytest.raises(ValueError):
        salted_join(left, right, on=["k"], salt_source=F.col("id"), how="full")


def test_exact_substring_query_evaluates_span_pipeline_once(spark, sf_dir):
    """Plan audit: the shingle/island subtree (its Generate node) must
    appear exactly once — span stats read off the removal plan via
    keep_spans_col, not a second evaluation of the whole pipeline."""
    import io
    from contextlib import redirect_stdout

    from chatbot_spark.workload import SPARK_QUERIES

    df = SPARK_QUERIES["exact_substring_dedup"](spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("explode(sequence(1,") == 1, plan


def test_kmv_merge_of_partials_equals_direct(spark):
    """KMV is closed under merge: per-half sketches merged give EXACTLY
    the direct whole-set sketch (not approximately — the k smallest of a
    union is the k smallest of the per-part k-smallest sets)."""
    from pyspark.sql import functions as F

    from chatbot_spark.operators.sketch import kmv_estimate, kmv_merge, kmv_sketch

    df = spark.range(1000).select(F.lit("g").alias("g"), (F.col("id") * 7919 % 1000).alias("v"))
    k = 32
    direct = kmv_sketch(df, ["g"], "v", k=k).first()["kmv"]
    h1 = kmv_sketch(df.filter("id % 2 = 0"), ["g"], "v", k=k).first()["kmv"]
    h2 = kmv_sketch(df.filter("id % 2 = 1"), ["g"], "v", k=k).first()["kmv"]
    merged = (
        spark.createDataFrame([(h1, h2)], "a ARRAY<STRING>, b ARRAY<STRING>")
        .select(kmv_merge(F.col("a"), F.col("b"), k).alias("m"))
        .first()["m"]
    )
    assert merged == direct
    est = (
        spark.createDataFrame([(direct,)], "kmv ARRAY<STRING>")
        .select(kmv_estimate(F.col("kmv"), k).alias("e"))
        .first()["e"]
    )
    assert 0.6 * 1000 < est < 1.6 * 1000  # k=32 is coarse; sanity band


def test_kmv_small_group_is_exact(spark):
    from pyspark.sql import functions as F

    from chatbot_spark.operators.sketch import kmv_estimate, kmv_sketch

    df = spark.createDataFrame([("g", i % 5) for i in range(50)], "g STRING, v INT")
    sk = kmv_sketch(df, ["g"], "v", k=128)
    row = sk.select(kmv_estimate(F.col("kmv"), 128).alias("e"), F.size("kmv").alias("n")).first()
    assert (row.n, row.e) == (5, 5.0)


def test_kmv_estimate_zero_hash_degenerate_guard(spark):
    """If h_k's first 32 bits are all zero (P ≈ 2⁻³², forced here with a
    synthetic sketch), the estimate must fall back to size(kmv) — finite
    and deterministic — never Inf from /0 or NULL from a malformed hex
    (round-5 ADVICE)."""
    from pyspark.sql import functions as F

    from chatbot_spark.operators.sketch import kmv_estimate

    k = 4
    zero_hk = [f"{i:032x}" for i in range(k - 1)] + ["00000000" + "f" * 24]
    bad_hex = [f"{i:032x}" for i in range(k - 1)] + ["zzzzzzzz" + "f" * 24]
    df = spark.createDataFrame(
        [(zero_hk,), (bad_hex,)], "kmv ARRAY<STRING>"
    )
    rows = df.select(kmv_estimate(F.col("kmv"), k).alias("e")).collect()
    assert [r.e for r in rows] == [4.0, 4.0]


def test_incremental_minhash_equals_restricted_full(spark):
    from pyspark.sql import functions as F

    from chatbot_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different text about spark execution engines"),
        (10, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
        (11, "completely different text about spark execution engines ok"),
        (12, "some fresh unseen content with no relatives at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seen = df.filter(F.col("doc_id") < 10)
    new = df.filter(F.col("doc_id") >= 10)
    inc = {
        (r["id_a"], r["id_b"])
        for r in incremental_minhash_pairs(
            new, seen, jaccard_threshold=0.1
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, jaccard_threshold=0.1).collect()
    }
    restricted = {(a, b) for a, b in full if a >= 10 or b >= 10}
    assert inc == restricted
    assert (1, 10) in inc  # new dup of a seen doc is caught
    assert all((a >= 10 or b >= 10) for a, b in inc)  # never seen x seen


def test_scoped_minhash_equals_same_scope_restriction(spark):
    from pyspark.sql import functions as F

    from chatbot_spark.operators.dedup import minhash_lsh_pairs

    dup = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (1, "en", dup),
        (2, "en", dup + " tonight"),
        (3, "de", dup),          # cross-lang dup of 1 -> must NOT pair scoped
        (4, "de", dup + " tonight"),
        (5, "en", "entirely different text with no duplicate partner here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    scoped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, jaccard_threshold=0.1, scope_col="lang"
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, jaccard_threshold=0.1).collect()
    }
    lang = {i: l for i, l, _ in rows}
    assert scoped == {(a, b) for a, b in full if lang[a] == lang[b]}
    assert (1, 3) in full and (1, 3) not in scoped  # cross-lang dup excluded
    assert (1, 2) in scoped and (3, 4) in scoped


# ---------------------------- prefix-filtered exact Jaccard join


def _pj(spark, texts, t_num=4, t_den=5, n=3):
    from chatbot_spark.operators.dedup import prefix_jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return {
        (r["id_a"], r["id_b"]): r["jaccard_ppm"]
        for r in prefix_jaccard_pairs(
            df, "doc_id", "text", shingle_n=n, t_num=t_num, t_den=t_den
        ).collect()
    }


def test_prefix_jaccard_complete_vs_naive_join(spark):
    # completeness: prefix filtering must find EXACTLY the naive join's
    # qualifying pairs (minhash may miss; this operator must not)
    import random

    from chatbot_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    texts = []
    for _ in range(40):
        base = " ".join(rng.choice(vocab) for _ in range(12))
        texts.append(base)
        if rng.random() < 0.4:  # near-duplicate with a small edit
            words = base.split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = set(_pj(spark, texts, t_num=1, t_den=2))
    naive = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.5
        ).collect()
    }
    assert got == naive and len(naive) > 0


def test_prefix_jaccard_boundary_inclusive(spark):
    # two docs built to land exactly AT the threshold: 4 shingles each,
    # 3 shared -> J = 3/5; included at t=3/5, excluded just above
    a = "a b c d e f"   # shingles: abc bcd cde def (4)
    b = "a b c d e g"   # shingles: abc bcd cde deg (4), inter=3, union=5
    assert (0, 1) in _pj(spark, [a, b], t_num=3, t_den=5)
    assert (0, 1) not in _pj(spark, [a, b], t_num=61, t_den=100)
    assert _pj(spark, [a, b], t_num=3, t_den=5)[(0, 1)] == 600000


def test_prefix_jaccard_identical_docs(spark):
    got = _pj(spark, ["x y z w v", "x y z w v", "totally different text here"])
    assert got == {(0, 1): 1000000}


def _py_bpe_reference(word_cnt: dict[str, int], n_merges: int):
    """Driver-side BPE ground truth mirroring train_bpe's exact
    semantics: symbols = chars + '_', pair counts weighted by word
    count, argmax (count DESC, left ASC, right ASC), merges applied
    left-to-right non-overlapping."""
    words = {w: list(w) + ["_"] for w in word_cnt}
    merges = []
    for r in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            c = word_cnt[w]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + c
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((r, a, b, a + b, c))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def test_bpe_200_merges_matches_reference_with_bounded_plans(spark):
    """r8 verdict item 4: production vocab sizes. 200 merge rounds must
    (a) reproduce the driver-side reference merge-for-merge — the
    incremental pair maintenance is bit-exact, not approximate — and
    (b) keep the word table's plan bounded by checkpoint_every chained
    replaces (the LPA lineage lesson: without the cap a 32k-merge vocab
    is a 32k-deep expression tree)."""
    import random

    from chatbot_spark.operators.bpe import train_bpe

    rng = random.Random(5)
    vocab = [
        "".join(rng.choice("abcdef") for _ in range(rng.randrange(3, 9)))
        for _ in range(300)
    ]
    word_cnt: dict[str, int] = {}
    for w in vocab:
        word_cnt[w] = word_cnt.get(w, 0) + rng.randrange(1, 6)
    docs = spark.createDataFrame(
        [(w + " ") * c for w, c in word_cnt.items()], "string"
    ).toDF("text")

    merges, words = train_bpe(docs, n_merges=200, checkpoint_every=64)
    want = _py_bpe_reference(word_cnt, 200)
    assert merges == want
    # lineage cap: after 200 rounds (checkpoints at 64/128/192) the
    # returned plan holds at most checkpoint_every chained replaces
    plan = words._jdf.queryExecution().analyzed().toString()
    assert plan.count("replace(") <= 64


def test_duplicated_spans_sa_equals_window_form(spark):
    """The hash-free suffix-grouping form and the md5 window form must
    produce the IDENTICAL span set (the docstring's equivalence proof,
    exercised): random corpora with planted shared passages, within-doc
    repetitions, and short docs."""
    import random

    from chatbot_spark.operators.dedup import duplicated_spans, duplicated_spans_sa

    rng = random.Random(23)
    shared = ["s%d" % rng.randrange(30) for _ in range(40)]
    rows = []
    for i in range(40):
        toks = ["u%d_%d" % (i, j) for j in range(rng.randrange(3, 25))]
        if i % 4 == 0:  # cross-doc duplicated passage
            at = rng.randrange(0, max(1, len(toks)))
            toks = toks[:at] + shared[: rng.randrange(8, 25)] + toks[at:]
        if i % 7 == 0:  # within-doc repetition (same window, two offsets)
            toks = toks + toks[:10]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for w in (3, 8):
        a = sorted(tuple(r) for r in duplicated_spans(df, window=w).collect())
        b = sorted(tuple(r) for r in duplicated_spans_sa(df, window=w).collect())
        assert a == b, f"window={w}"


def test_duplicated_spans_sa_non_power_of_two_window(spark):
    # w=6: exercises the final overlapping-blocks combine (L=4, off=2)
    from chatbot_spark.operators.dedup import duplicated_spans, duplicated_spans_sa

    rows = [
        (1, "a b c d e f g h i"),
        (2, "x y a b c d e f q"),   # shares 'a b c d e f' (6 tokens)
        (3, "p q r s t u v w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in duplicated_spans_sa(df, window=6).collect())
    want = sorted(tuple(r) for r in duplicated_spans(df, window=6).collect())
    assert got == want
    assert got == [(1, 1, 6), (2, 3, 8)]


def test_duplicated_spans_sa_driver_gate_equals_distributed(spark, monkeypatch):
    """r13 size gate: the driver numpy kernel (token dictionary-coding +
    byte-view window grouping) must return EXACTLY the distributed
    prefix-doubling rounds' spans — same random corpus run through both
    paths by toggling CBS_FORCE_DISTRIBUTED, power-of-two and overlapping-
    blocks windows, and the empty/no-dup edges."""
    import random

    from chatbot_spark.operators.dedup import duplicated_spans_sa

    rng = random.Random(41)
    shared = ["s%d" % rng.randrange(20) for _ in range(30)]
    rows = []
    for i in range(30):
        toks = ["u%d_%d" % (i, j) for j in range(rng.randrange(2, 20))]
        if i % 3 == 0:
            at = rng.randrange(0, max(1, len(toks)))
            toks = toks[:at] + shared[: rng.randrange(7, 20)] + toks[at:]
        if i % 5 == 0:
            toks = toks + toks[:9]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for w in (4, 6, 8):
        drv = duplicated_spans_sa(df, window=w)  # gate on (tiny corpus)
        with monkeypatch.context() as m:
            m.setenv("CBS_FORCE_DISTRIBUTED", "1")
            dist = duplicated_spans_sa(df, window=w)
        assert [f.dataType for f in drv.schema.fields] == [
            f.dataType for f in dist.schema.fields
        ], f"window={w}: schema drift between driver kernel and rounds"
        assert sorted(map(tuple, drv.collect())) == sorted(
            map(tuple, dist.collect())
        ), f"window={w}"
    none = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    assert duplicated_spans_sa(none, window=3).count() == 0


def test_bpe_speculative_equals_serial_greedy(spark):
    """r12 (r11 verdict item 4): the speculate-then-verify trainer must
    reproduce serial greedy BIT-FOR-BIT at every batch size / chunk —
    the floor-bound + exact-step-delta certification is an equivalence,
    not an approximation — while running FEWER driver actions than
    merges (the whole point: the disjoint-prefix rule realized only
    1.14 merges/round)."""
    import random

    from chatbot_spark.operators.bpe import train_bpe_speculative

    rng = random.Random(5)
    vocab = [
        "".join(rng.choice("abcdef") for _ in range(rng.randrange(3, 9)))
        for _ in range(300)
    ]
    word_cnt: dict[str, int] = {}
    for w in vocab:
        word_cnt[w] = word_cnt.get(w, 0) + rng.randrange(1, 6)
    docs = spark.createDataFrame(
        [(w + " ") * c for w, c in word_cnt.items()], "string"
    ).toDF("text")
    want = _py_bpe_reference(word_cnt, 120)
    for bs, chunk in ((2, 2), (8, 4), (64, 24)):
        stats: dict = {}
        merges, _ = train_bpe_speculative(
            docs, n_merges=120, batch_size=bs, spec_chunk=chunk,
            checkpoint_every=64, stats=stats,
        )
        assert merges == want, f"batch_size={bs} diverged from serial greedy"
    # at full batch width the realized factor must beat the serial floor
    # comfortably on this corpus (serial = 120 actions)
    assert stats["rounds"] < 120 / 2, stats["rounds"]


def test_bpe_speculative_adversarial_shared_symbols(spark):
    """The conflict cases: decayed mid-ranked pairs ((x,a) after (a,b)),
    self-overlap ('ababab'), chains through freshly-created symbols
    ('abcdef' merging (a,b) then (ab,c)), and name collisions (a word
    whose single symbol equals a merged name) — all must repair/verify
    to the exact serial order."""
    import random

    from chatbot_spark.operators.bpe import train_bpe_speculative

    rng = random.Random(99)
    words = {}
    words["ab"] = 60
    words["xa"] = 25
    words["xab"] = 15
    words["cd"] = 30
    words["ababab"] = 7
    words["abcdef"] = 9
    for _ in range(60):
        w = "".join(rng.choice("abcdxf") for _ in range(rng.randrange(2, 7)))
        words[w] = words.get(w, 0) + rng.randrange(1, 4)
    docs = spark.createDataFrame(
        [(w + " ") * c for w, c in words.items()], "string"
    ).toDF("text")
    want = _py_bpe_reference(words, 40)
    for bs in (4, 32):
        merges, _ = train_bpe_speculative(
            docs, n_merges=40, batch_size=bs, spec_chunk=8
        )
        assert merges == want, f"batch_size={bs} diverged on adversarial corpus"


def test_bpe_speculative_tiny_window_floor_truncation(spark):
    """A lookahead smaller than the live pair population forces the
    floor-truncation path every round (every unknown-tail bound is
    live); correctness must hold with the minimum legal window."""
    import random

    from chatbot_spark.operators.bpe import train_bpe_speculative

    rng = random.Random(3)
    words = {}
    for _ in range(120):
        w = "".join(rng.choice("abcdefgh") for _ in range(rng.randrange(2, 8)))
        words[w] = words.get(w, 0) + rng.randrange(1, 5)
    docs = spark.createDataFrame(
        [(w + " ") * c for w, c in words.items()], "string"
    ).toDF("text")
    want = _py_bpe_reference(words, 30)
    merges, _ = train_bpe_speculative(
        docs, n_merges=30, batch_size=16, lookahead=8, spec_chunk=6
    )
    assert merges == want
