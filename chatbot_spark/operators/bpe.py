"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") — the learn-side
of the token-counting surface (SURVEY §2.J J4 counts tokens with a
BPE-ish regex; this trains the merge table that defines those tokens).

The algorithm is inherently iterative (each merge depends on the counts
AFTER the previous merge), so it runs as driver-coordinated rounds over
a distributed table — the canonical Spark shape for BPE:

 * **Word-count compression first.** The corpus collapses to
   (distinct word, count) in one shuffle. Every later round operates on
   THAT table, whose size is the vocabulary (~10M rows at 100 TB of
   text), not the corpus — the classic trick that makes corpus-scale
   BPE cheap: pair statistics are identical because pair counts weight
   by word frequency.
 * **Per round**: adjacent symbol pairs weighted by word count →
   groupBy(pair).sum (map-side partials) → argmax with total
   tie-order (count DESC, left ASC, right ASC) → ONE row to the driver
   → the merge applies as a literal string replace on the symbol
   encoding. Driver state is one (left, right) pair per round.
 * **Symbol encoding**: a word is ``<c><c>…<_>`` — every symbol wrapped
   in angle brackets, ``_`` the end-of-word marker. Delimited wrapping
   makes merge application a plain non-overlapping left-to-right
   ``replace('<a><b>', '<ab>')``, which IS greedy BPE merge order, with
   no boundary-sharing bugs (space-joined encodings consume the shared
   delimiter of consecutive matches; wrapped symbols don't). The
   wrapper chars must not occur in the text — validated up front.

Determinism: counts are integers, the argmax tie-order is total, and
``replace`` is left-to-right non-overlapping in Spark and DuckDB alike —
so the learned merge table is bit-reproducible and the workload query
carries a full SQL oracle (the same rounds unrolled as CTEs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chatbot_spark.io.smallio import local_df


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(distinct word, count) — the compressed training table."""
    return (
        df.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _initial_rep() -> F.Column:
    """word -> '<c><c>...<_>' wrapped-symbol encoding."""
    chars = F.expr("filter(split(word, ''), x -> x != '')")
    syms = F.concat(chars, F.array(F.lit("_")))
    return F.concat(F.lit("<"), F.array_join(syms, "><"), F.lit(">"))


def _symbols(rep_col: str = "rep") -> F.Column:
    """'<a><b>' -> ['a','b'] (inverse of the wrapped encoding)."""
    return F.expr(
        f"split(substring({rep_col}, 2, length({rep_col}) - 2), '><')"
    )


def _pair_counts(words_df: DataFrame) -> F.Column:
    """(a, b, c): adjacent-symbol pair counts weighted by word count."""
    return (
        words_df.select("cnt", _symbols().alias("syms"))
        # fully-merged words (one symbol) have no pairs — and must be
        # filtered BEFORE the sequence: Spark's sequence(1, 0) is a
        # DESCENDING [1, 0], so the transform would index syms[1] out of
        # bounds (ANSI error) instead of producing an empty list
        .filter(F.expr("size(syms) >= 2"))
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(syms[i - 1] AS a, syms[i] AS b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("c"))
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    checkpoint_every: int = 64,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    ``(merges, words)`` where merges is
    ``[(round, left, right, merged, weight), ...]`` (1-based rounds,
    weight = the corpus-frequency-weighted pair count that won the
    round) and ``words`` is the final (word, cnt, rep) DataFrame with
    all merges applied — feed it to :func:`encoded_token_count` or strip
    the wrappers for the actual subword sequences.

    Production-vocab scale discipline (r8 verdict item 4 — the LPA
    lineage lesson applied BEFORE the cliff):

    * **Incremental pair maintenance.** Only words CONTAINING the merged
      pair ``<a><b>`` change their pair multiset, so each round counts
      pairs over that filtered slice twice (old rep negative, new rep
      positive) and folds the delta into the carried pair table —
      O(changed words) explode work per round instead of re-exploding
      the whole vocabulary. Counts are integers and the fold is a keyed
      BIGINT sum, so the argmax sequence is bit-identical to the
      recount-everything form (the workload oracle pins that).
    * **Bounded lineage.** The carried pair table is
      ``localCheckpoint``-ed per round (it feeds the argmax and the next
      round's fold — unchecked, the union chain doubles; the checkpoint
      is LAZY because the argmax's global sort reads every partition,
      materializing it inside the job each round already pays); the word
      table chains one narrow ``replace`` per round and is eagerly
      checkpointed every ``checkpoint_every`` rounds, so no plan ever
      holds more than that many chained replaces — a 32k-merge vocab
      builds 32k/64 bounded plans instead of one 32k-deep expression
      tree (driver/codegen blowup).
    """
    spark = df.sparkSession
    # '_' is the end-of-word marker in the wrapped encoding: a literal
    # corpus underscore would conflate mid-word '_' symbols with word
    # boundaries in the learned merge table, so it is rejected alongside
    # the '<'/'>' wrappers (round-5 ADVICE).
    bad = df.filter(F.col(text_col).rlike("[<>_]")).limit(1).count()
    if bad:
        raise ValueError(
            "text contains reserved symbols: '<'/'>' (wrappers) or "
            "'_' (end-of-word marker)"
        )
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    base = (
        word_counts(df, text_col)
        .withColumn("rep", _initial_rep())
        .persist()
    )
    base.count()
    words = base
    # pairs checkpoints are LAZY: the very next argmax collect reads
    # every partition (global sort), materializing the checkpoint inside
    # the job we already pay — one Spark job per merge round, same as
    # the pre-incremental form
    pairs = _pair_counts(words).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        best = pairs.orderBy(
            F.col("c").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
        merged = a + b
        merges.append((r, a, b, merged, c))
        pat, sub = f"<{a}><{b}>", f"<{merged}>"
        # the delta slice: only words whose rep contains the merged pair
        # change any pair count
        changed = words.filter(F.col("rep").contains(pat))
        changed_new = changed.withColumn(
            "rep", F.replace(F.col("rep"), F.lit(pat), F.lit(sub))
        )
        neg = _pair_counts(changed).select("a", "b", (-F.col("c")).alias("c"))
        pos = _pair_counts(changed_new).select("a", "b", "c")
        pairs = (
            pairs.unionByName(pos)
            .unionByName(neg)
            .groupBy("a", "b")
            .agg(F.sum("c").alias("c"))
            .filter(F.col("c") > 0)
            .localCheckpoint(eager=False)
        )
        words = words.withColumn(
            "rep", F.replace(F.col("rep"), F.lit(pat), F.lit(sub))
        )
        if r % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
    base.unpersist()  # training done; the returned lineage recomputes if used
    return merges, words


_DELTA_STRUCT = "array<struct<step: int, a: string, b: string, d: bigint>>"


def _chain_step_deltas(words: DataFrame, pats: list, subs: list) -> DataFrame:
    """Exact per-step pair-count deltas of applying the merge chain
    ``pats→subs`` SEQUENTIALLY: one lazy DataFrame (step, a, b, d) whose
    evaluation is a single distributed action with a CONSTANT-SIZE plan.
    Per changed word (OR-contains superset — induction: a word changes
    at step i only if it contained some pattern originally or was
    changed earlier), one ``aggregate`` computes the word's full rep
    evolution reps[1..n+1], then one nested ``transform`` emits signed
    pair rows for every step whose replace changed the word (old rep's
    pairs −cnt, new rep's +cnt) — one scan, one explode, ONE shuffle,
    O(chain · |word|) work per word. The first two cuts (per-step
    grouped branches; a per-step UNION) put O(chain) shuffles resp.
    O(chain²) replace nodes in the plan, and their scheduling/compile
    floors erased the batching win — this shape is why the speculative
    trainer's verification action costs ~one serial round."""
    n = len(pats)
    pats_c = F.array(*[F.lit(p) for p in pats])
    subs_c = F.array(*[F.lit(s) for s in subs])
    cond = None
    for p in pats:
        c = F.col("rep").contains(p)
        cond = c if cond is None else (cond | c)
    hit = words.select("cnt", "rep").filter(cond)
    reps = F.aggregate(
        F.sequence(F.lit(1), F.lit(n)),
        F.array(F.col("rep")),
        lambda acc, i: F.concat(
            acc,
            F.array(
                F.replace(
                    F.element_at(acc, -1),
                    F.element_at(pats_c, i),
                    F.element_at(subs_c, i),
                )
            ),
        ),
    )

    empty = F.expr(f"cast(array() as {_DELTA_STRUCT})")

    def _signed(rep_c, d_c, step_c):
        syms = F.split(
            F.substr(rep_c, F.lit(2), F.length(rep_c) - F.lit(2)), "><"
        )
        return F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda j: F.struct(
                    step_c.cast("int").alias("step"),
                    F.element_at(syms, j).alias("a"),
                    F.element_at(syms, j + 1).alias("b"),
                    d_c.cast("long").alias("d"),
                ),
            ),
        ).otherwise(empty)

    def _step_rows(i):
        old = F.element_at(F.col("__reps"), i)
        new = F.element_at(F.col("__reps"), i + 1)
        return F.when(old == new, empty).otherwise(
            F.concat(
                _signed(old, -F.col("cnt"), i),
                _signed(new, F.col("cnt"), i),
            )
        )

    rows = (
        hit.select("cnt", reps.alias("__reps"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(F.sequence(F.lit(1), F.lit(n)), _step_rows)
                )
            ).alias("x")
        )
        .select("x.step", "x.a", "x.b", "x.d")
    )
    return (
        rows.groupBy("step", "a", "b").agg(F.sum("d").alias("d"))
        .filter(F.col("d") != 0)
    )


def train_bpe_speculative(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    batch_size: int = 64,
    lookahead: int = 4096,
    spec_chunk: int = 24,
    checkpoint_every: int = 64,
    stats: dict | None = None,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Speculate-then-verify BATCHED BPE (r11 verdict item 4): the merge
    list is BIT-IDENTICAL to :func:`train_bpe`'s serial greedy order
    (the equivalence tests train both and compare), but one driver
    action can certify many merges instead of one — a batch is not
    capped by any symbol-disjointness rule, because natural-language top
    pairs share symbols constantly. Per driver round:

    1. Collect the top-``lookahead`` ranked pairs (window). ``floor`` =
       the window's last count — every pair outside the window counts
       ≤ floor, and existing pairs can only lose occurrences under a
       merge whose merged name is fresh, while name-collision growth is
       caught exactly by step deltas (below), so the floor bounds every
       driver-unknown competitor THROUGHOUT the round.
    2. SPECULATE a merge chain from driver-known counts: ranked
       conflict-graph selection (skip, don't stop at, pairs sharing a
       symbol with earlier chain members — the skipped pair is exactly
       the one whose count decays).
    3. ONE action evaluates :func:`_chain_step_deltas` joined with base
       counts and collects the slice of pairs that could ever beat the
       floor (window members, plus any changed pair with
       base + Σ positive deltas > floor — a conservative superset).
    4. VERIFY driver-side: replay the chain; before step i every
       competitor is either exactly known (window ∪ collected slice,
       base + cumulative deltas) or bounded by floor, so the true
       greedy argmax is computable. The verified prefix is kept; on a
       mismatch the exact argmax REPAIRS the chain (≥1 new certified
       merge per action, so the worst case degenerates to serial
       greedy, never below it); a best ≤ floor ends the round (window
       refresh).

    ``stats`` receives {"rounds": driver ACTIONS run} — window collects
    + verification collects, the honest denominator for the realized
    batch factor (train_bpe runs one action per merge, so merges/rounds
    compares directly with it) — plus "milestones" in the
    same (rounds, merges, monotonic_sec) shape.
    """
    import time as _time

    spark = df.sparkSession
    bad = df.filter(F.col(text_col).rlike("[<>_]")).limit(1).count()
    if bad:
        raise ValueError(
            "text contains reserved symbols: '<'/'>' (wrappers) or "
            "'_' (end-of-word marker)"
        )
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    if spec_chunk < 1:
        raise ValueError("spec_chunk must be >= 1")
    lookahead = max(lookahead, batch_size + 1)
    base = (
        word_counts(df, text_col).withColumn("rep", _initial_rep()).persist()
    )
    base.count()
    words = base
    pairs = _pair_counts(words).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, str, int]] = []
    since_ckpt = 0
    rounds = 0
    if stats is not None:
        stats["t_start_monotonic"] = _time.monotonic()

    def _mark():
        if stats is not None:
            stats.setdefault("milestones", []).append(
                (rounds, len(merges), _time.monotonic())
            )

    def _speculate(counts: dict, taken: list, floor: int, want: int) -> list:
        """OPTIMISTIC ranked selection over driver-known counts: assume
        counts don't change and take the ranked order as-is (already-
        chosen pairs and ≤floor counts excluded). Symbol-sharing pairs
        are deliberately NOT skipped — sharing a symbol rarely means
        overlapping occurrences ((c,_) and (b,_) live in different
        words; greedy picks them consecutively), and when a merge DOES
        decay a later pick ((t,h) then (h,e)) the verification repairs
        with the exact argmax, so optimism costs at most one extra
        action while skipping costs the whole run of certifiable picks
        (the measured trap: a disjoint-selection variant realized
        factor 1.0 on end-of-word-marker-heavy vocabularies)."""
        tk = set(taken)
        out = []
        for (a, b), c in sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        ):
            if len(taken) + len(out) >= want:
                break
            if c <= floor or (a, b) in tk:
                continue
            out.append((a, b))
            tk.add((a, b))
        return out

    while len(merges) < n_merges:
        rounds += 1  # the window sort-collect action
        top = pairs.orderBy(
            F.col("c").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(lookahead).collect()
        if not top:
            break
        window = {(r["a"], r["b"]): int(r["c"]) for r in top}
        # a window that holds EVERY live pair certifies against floor 0
        # (no unknown tail at all) — the reason lookahead defaults high
        # (4096): late-stage BPE collapses counts onto small tie
        # plateaus, and a truncated window's floor sits ON the plateau,
        # stopping certification (the measured 2.0 late-segment factor
        # at lookahead=512); window rows are (a, b, count) triples, so
        # even 64k rows is sub-MB driver traffic
        floor = int(top[-1]["c"]) if len(top) == lookahead else 0
        want = min(batch_size, n_merges - len(merges))

        verified: list[tuple[str, str, int]] = []  # (a, b, count at choice)
        # speculation ranking source: the window's base counts seed
        # iteration 1; each later iteration ranks on the exact counts
        # carried through the verified prefix (so decayed/eliminated
        # pairs stop being speculated)
        spec_counts = dict(window)
        base_counts = pairs.select("a", "b", F.col("c").alias("base"))
        win_df = local_df(
            spark, [(a, b) for a, b in window], "a STRING, b STRING"
        ).withColumn("w", F.lit(1))
        while len(verified) < want:
            taken = [(a, b) for a, b, _ in verified]
            spec = taken + _speculate(
                spec_counts, taken, floor,
                min(want, len(verified) + spec_chunk),
            )
            if len(spec) <= len(verified):
                break  # nothing certifiable beyond the floor
            pats = [f"<{a}><{b}>" for a, b in spec]
            subs = [f"<{a + b}>" for a, b in spec]

            delta = _chain_step_deltas(words, pats, subs)
            agg = delta.groupBy("a", "b").agg(
                F.sum(F.greatest(F.col("d"), F.lit(0))).alias("possum")
            )
            sliced = (
                delta.join(agg, ["a", "b"])
                .join(base_counts, ["a", "b"], "left")
                .join(F.broadcast(win_df), ["a", "b"], "left")
                .filter(
                    F.col("w").isNotNull()
                    | (
                        F.coalesce(F.col("base"), F.lit(0))
                        + F.col("possum")
                        > floor
                    )
                )
                .select("step", "a", "b", "d", "base")
            )
            rounds += 1  # the verification collect action
            rows = sliced.collect()

            known = dict(window)
            deltas_by_step: dict[int, list] = {}
            for r in rows:
                key = (r["a"], r["b"])
                if key not in known:
                    known[key] = int(r["base"]) if r["base"] is not None else 0
                deltas_by_step.setdefault(int(r["step"]), []).append(
                    (key, int(r["d"]))
                )

            new_verified: list[tuple[str, str, int]] = []
            for i, q in enumerate(spec, start=1):
                live = {k: c for k, c in known.items() if c > floor}
                if not live:
                    break  # unknown tail could win — round over
                best = min(
                    live.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
                )[0]
                if i <= len(verified):
                    # prior-iteration certified prefix replays identically
                    assert best == q, "verified prefix diverged on replay"
                choice = best
                new_verified.append((choice[0], choice[1], known[choice]))
                if choice != q:
                    break  # repaired: deltas beyond here are for the old chain
                for key, d in deltas_by_step.get(i, []):
                    known[key] = known.get(key, 0) + d
            if len(new_verified) <= len(verified):
                break  # floor-truncated with no progress — round over
            verified = new_verified
            spec_counts = known
            if len(new_verified) < len(spec):
                continue  # repaired or truncated mid-chain — iterate

        if not verified:
            # degenerate: the whole window ties at the floor — the full
            # sort's head is still THE argmax; take the plain greedy step
            r0 = top[0]
            verified = [(r0["a"], r0["b"], int(r0["c"]))]

        pats = [f"<{a}><{b}>" for a, b, _ in verified]
        subs = [f"<{a + b}>" for a, b, _ in verified]
        for a, b, c in verified:
            merges.append((len(merges) + 1, a, b, a + b, c))

        def _apply_all(col: F.Column) -> F.Column:
            for p, sbst in zip(pats, subs):
                col = F.replace(col, F.lit(p), F.lit(sbst))
            return col

        cond = None
        for p in pats:
            c = F.col("rep").contains(p)
            cond = c if cond is None else (cond | c)
        changed = words.filter(cond)
        changed_new = changed.withColumn("rep", _apply_all(F.col("rep")))
        neg = _pair_counts(changed).select("a", "b", (-F.col("c")).alias("c"))
        pos = _pair_counts(changed_new).select("a", "b", "c")
        pairs = (
            pairs.unionByName(pos)
            .unionByName(neg)
            .groupBy("a", "b")
            .agg(F.sum("c").alias("c"))
            .filter(F.col("c") > 0)
            .localCheckpoint(eager=False)
        )
        prev_words = words
        words = words.withColumn("rep", _apply_all(F.col("rep"))).persist()
        # lazy per-round cache: the next round's first action materializes
        # it ONCE and the ~2·spec_chunk delta branches all read the cached
        # blocks instead of each replaying the replace lineage (the
        # speculative trainer's verification is a union of per-step scans,
        # so an uncached word table multiplies the lineage replay by the
        # chain length); the eager-checkpoint cadence below still caps the
        # PLAN depth exactly like the serial trainer
        if prev_words is not base:
            prev_words.unpersist(blocking=False)
        since_ckpt += len(verified)
        if since_ckpt >= checkpoint_every:
            # rebinding `words` to the checkpointed frame would strand the
            # persisted predecessor in the cache (next round's
            # prev_words.unpersist() only sees the checkpointed frame) —
            # one leaked word-table per checkpoint over a long run (r12
            # ADVICE). Materialize the checkpoint FROM the cache, then
            # release the cached copy explicitly.
            pre_ckpt = words
            words = words.localCheckpoint(eager=True)
            pre_ckpt.unpersist(blocking=False)
            since_ckpt = 0
        _mark()
    base.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return merges, words


def encoded_token_count(words: DataFrame) -> int:
    """Corpus token count under the trained merges:
    Σ word_count × symbols(word)."""
    return int(
        words.select(
            F.sum(F.col("cnt") * F.size(_symbols())).alias("n")
        ).first()["n"]
    )


def merges_df(spark: SparkSession, merges) -> DataFrame:
    return local_df(
        spark,
        merges,
        "round INT, left_sym STRING, right_sym STRING, merged STRING, weight LONG",
    )
