"""T5 span-corruption example construction (beyond-reference §2.J scope).

The T5 denoising objective (Raffel et al. 2020) replaces random token
SPANS with sentinel tokens and trains the model to emit the spans after
their sentinels. Production variants sample spans with an RNG; this
operator derives every decision from md5(doc_id:pos) so the constructed
examples are a pure function of the corpus — reproducible across runs,
engines and partitionings (swap the seed string per epoch for fresh
corruption), and therefore oracle-checkable bit-for-bit.

Construction (strictly per document — one narrow pass of array
expressions, no join, window or exchange):
  1. tokens: whitespace split of the lowered text (textstats.tokens);
     zero-token and null documents emit no row,
  2. span seeds: position p seeds a span iff hash(p) mod 1000 <
     start_permille; its length is 1 + hash mod max_span,
  3. masked set: p is masked iff a seed among the max_span positions
     ending at p covers it (overlaps allowed),
  4. islands: maximal masked runs (a start is masked with an unmasked
     predecessor) — each island is ONE sentinel span even when several
     seeds overlap, exactly T5's contiguous-span contract,
  5. assembly: unmasked tokens keep their position, an island's first
     position becomes <extra_id_k>, interior masked positions drop;
     targets are '<extra_id_k> tok ...' per island in order.

All of it is integer/string logic over positions in array order, so
the output is deterministic and oracle-checkable (the DuckDB oracle in
workload.py replays the same md5 arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chatbot_spark.operators.textstats import let, tokens

__all__ = ["t5_span_corrupt"]


def t5_span_corrupt(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_permille: int = 60,
    max_span: int = 3,
) -> DataFrame:
    """Per document: (id, n_tokens, n_spans, n_masked, input, target).

    input = tokens with each masked island collapsed to <extra_id_k>;
    target = '<extra_id_k> tok ...' chunks in island order ('' when the
    document drew no span). Deterministic md5 seeding as per module doc.

    r14 execution (guide §1.2 — fix the distributed algorithm first):
    every decision is a pure function of (doc_id, pos, tokens), i.e.
    strictly PER-DOCUMENT, so the whole construction evaluates as one
    narrow pass of array expressions — the former position-keyed
    posexplode + 2 joins + 2 windows + 3 persists (6 exchanges at sf1)
    assembled per-position rows only to regroup them by the document
    they never left. All integer/string logic, no floats.
    """
    sentinel = lambda k: F.concat(  # noqa: E731  k is the 0-based island index
        F.lit("<extra_id_"), k.cast("string"), F.lit(">")
    )

    def _hash_at(p: Column) -> Column:
        # md5(doc_id:pos) -> first 8 hex digits -> long, pos = p
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        p.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    def _assemble(tk: Column) -> Column:
        # every intermediate ARRAY is let-bound before reuse: Catalyst
        # does no CSE through lambdafunction (the r13 `let` finding), so
        # an unbound reference would re-evaluate the whole array per
        # element — O(n²) md5s for the hash array
        n = F.size(tk)
        pos = F.sequence(F.lit(0), n - 1)

        def _with_hashes(hh: Column) -> Column:
            # pm = masked[] padded with False on both ends, so prev/next
            # probes (island boundaries) never index out of range:
            # pm[p+2] == masked[p] for p in 0..n-1.
            # masked[p] <=> EXISTS s in [p-(max_span-1), p]: seed(s)
            # fires (h % 1000 < permille) and covers p (s + h%span >= p)
            padded = F.concat(
                F.array(F.lit(False)),
                F.transform(
                    pos,
                    lambda p: F.exists(
                        F.sequence(F.greatest(p - (max_span - 1), F.lit(0)), p),
                        lambda s: (
                            F.element_at(hh, s + 1) % 1000 < start_permille
                        )
                        & (s + (F.element_at(hh, s + 1) % max_span) >= p),
                    ),
                ),
                F.array(F.lit(False)),
            )
            return let(padded, _with_mask)

        def _with_mask(pm: Column) -> Column:
            starts = F.filter(
                pos,
                lambda p: F.element_at(pm, p + 2) & ~F.element_at(pm, p + 1),
            )
            ends = F.filter(
                pos,
                lambda p: F.element_at(pm, p + 2) & ~F.element_at(pm, p + 3),
            )
            return let(
                starts, lambda ss: let(ends, lambda ee: _result(pm, ss, ee))
            )

        def _result(pm: Column, ss: Column, ee: Column) -> Column:
            pieces = F.transform(
                pos,
                lambda p: F.when(
                    F.array_position(ss, p) > 0,
                    sentinel(F.array_position(ss, p) - 1),
                )
                .when(F.element_at(pm, p + 2), F.lit(None).cast("string"))
                .otherwise(F.element_at(tk, p + 1)),
            )
            target = F.array_join(
                F.transform(
                    ss,
                    lambda s, i: F.concat(
                        sentinel(i.cast("long")),
                        F.lit(" "),
                        F.array_join(
                            F.slice(tk, s + 1, F.element_at(ee, i + 1) - s + 1),
                            " ",
                        ),
                    ),
                ),
                " ",
            )
            return F.struct(
                n.cast("long").alias("n_tokens"),
                F.size(ss).cast("long").alias("n_spans"),
                F.size(F.filter(F.slice(pm, 2, n), lambda x: x))
                .cast("long")
                .alias("n_masked"),
                F.array_join(
                    F.filter(pieces, lambda x: x.isNotNull()), " "
                ).alias("input"),
                target.alias("target"),
            )

        # zero-token (and null-text) documents: CaseWhen guards the whole
        # evaluation — sequence(0, n-1) with n <= 0 would run descending
        return F.when(n >= 1, let(F.transform(pos, _hash_at), _with_hashes))

    out = docs.select(
        F.col(id_col),
        let(tokens(F.col(text_col)), _assemble).alias("__r"),
    ).filter(
        # zero-token (and null-text) documents emit no row
        F.col("__r.n_tokens") >= 1
    )
    return out.select(
        id_col,
        "__r.n_tokens",
        "__r.n_spans",
        "__r.n_masked",
        "__r.input",
        "__r.target",
    )
