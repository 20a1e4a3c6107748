"""Streaming CRUD maintenance of a connected-components snapshot under
an out-of-order edge event feed — the z-set completion of the graph
family's streaming contract.

``stream_components`` (workload) folds ADD-only micro-batches: additions
commute, so delivery order never matters there. A real change feed also
carries REMOVALS, and removals do NOT commute with the additions they
revert — a ``del`` delivered before its ``add`` (the classic CDC
out-of-order case) would be dropped as unknown and the edge would
wrongly survive. The fix is the same signed-multiplicity algebra the
retraction-aware rollups use (streaming/stateful.py): the maintained
edge state is a Z-SET — ``(src, dst) -> net count`` where ``add`` is +1
and ``del`` is -1 — and an edge EXISTS iff its net count is positive.
Per batch:

1. fold the batch's signed deltas into the stored count table (one
   keyed outer merge — O(batch + touched keys));
2. edges whose net crossed ``>0 -> <=0`` are the batch's effective
   REMOVALS, ``<=0 -> >0`` its effective ADDITIONS — note a del arriving
   before its add nets to -1 (absent), and the later add nets back to 0
   (still absent): both orders converge to the same state;
3. refresh the label snapshot in the documented exact order — removals
   first via :func:`decremental_components` (affected-slice re-solve),
   then additions via :func:`incremental_components` (contracted
   solve);
4. write counts + labels under ONE version tree
   ``v{batch_id}/{counts,labels}`` and commit with the shared
   io/versioned.py protocol (atomic ``CURRENT`` repoint + vacuum).
   One pointer covers both datasets, so a crash between the two
   writes can never leave counts at ``v{b}`` with labels at
   ``v{b-1}`` — the whole version is simply uncommitted and the
   replay rewrites it. Replay reads prev from ``CURRENT`` (never a
   directory listing, never its own in-flight version), and a
   replay of an already-committed batch short-circuits — the
   round-9 ADVICE double-fold is structurally impossible.

Because the final count table is a pure function of the event MULTISET
(not its batch split or arrival order), the drained snapshot equals
from-scratch CC on the net-positive edge set under ANY delivery order —
the workload oracle pins exactly that equality.

100 TB: the count merge is one keyed exchange over O(batch + touched)
rows; the label refresh costs what its batch delta touches (the
decremental/incremental contracts, including the giant-component
broadcast gate). Nothing ever re-walks the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatbot_spark.io.smallio import local_df

__all__ = ["edge_crud_writer", "read_latest_version"]


def read_latest_version(spark, state_dir: str, dataset: str, schema: str) -> DataFrame:
    """Read ``{CURRENT}/{dataset}`` (``"counts"`` or ``"labels"``) of the
    committed state — empty frame before the first commit. Pointer-only
    resolution (io/versioned.py): stray directory entries can't poison
    the read, and an uncommitted in-flight version is invisible."""
    from chatbot_spark.io import versioned

    cur = versioned.current_version(state_dir)
    if cur is None:
        # distinguish "fresh store" from "pre-r10 layout" (counts/v{n} +
        # labels/v{n} beside the state root, no CURRENT pointer): reading
        # an old store as empty would silently discard every folded edge
        # count while the streaming checkpoint skips the consumed events —
        # permanent data loss with no error. Refuse with a migration hint.
        for legacy in ("counts", "labels"):
            legacy_dir = os.path.join(state_dir, legacy)
            if os.path.isdir(legacy_dir) and any(
                e.startswith("v") for e in os.listdir(legacy_dir)
            ):
                raise RuntimeError(
                    f"graphcrud state at {state_dir!r} uses the pre-r10 "
                    f"layout ({legacy}/v*, max-version listing); this "
                    "build reads the versioned-commit layout (v*/counts "
                    "+ v*/labels behind a CURRENT pointer). Migrate: "
                    "copy the latest counts/v{n} and labels/v{n} into "
                    "{state_dir}/v{n}/counts|labels and write CURRENT "
                    "with io/versioned.commit — or drain and rebuild "
                    "from the source events."
                )
        return local_df(spark, [], schema)
    return spark.read.schema(schema).parquet(
        os.path.join(versioned.resolve(state_dir, cur), dataset)
    )


def edge_crud_writer(
    state_dir: str,
    rounds: int | None = None,
    assert_converged: bool = False,
    run_token: str | None = None,
    keep_versions: int = 2,
):
    """foreachBatch writer folding an (op, src, dst) edge event feed —
    ``op`` in {'add', 'del'} — into one versioned state tree
    ``{state_dir}/v{batch}/{counts,labels}`` under the shared
    io/versioned.py commit protocol. See module docstring."""
    from chatbot_spark.io import versioned
    from chatbot_spark.operators.components import (
        decremental_components,
        incremental_components,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vname = versioned.stamp(batch_id, run_token)
        if versioned.is_committed(state_dir, vname):
            return  # crash-window-2 replay: already the committed state
        prev_counts = read_latest_version(
            spark, state_dir, "counts", "src long, dst long, cnt long"
        )
        prev_labels = read_latest_version(
            spark, state_dir, "labels", "node long, component long"
        )
        delta = (
            batch_df.select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
                F.when(F.col("op") == "add", F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                .alias("d"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("d").alias("d"))
        )
        merged = (
            prev_counts.join(delta, ["src", "dst"], "full_outer")
            .select(
                "src",
                "dst",
                F.coalesce("cnt", F.lit(0)).alias("__old"),
                (
                    F.coalesce("cnt", F.lit(0)) + F.coalesce("d", F.lit(0))
                ).alias("cnt"),
            )
            .persist()
        )
        appearing = merged.filter(
            (F.col("__old") <= 0) & (F.col("cnt") > 0)
        ).select("src", "dst")
        disappearing = merged.filter(
            (F.col("__old") > 0) & (F.col("cnt") <= 0)
        ).select("src", "dst")
        # removals first (the documented exact order): the remaining
        # graph G1 = previously-present edges minus the disappearing set
        remaining = merged.filter(
            (F.col("__old") > 0) & (F.col("cnt") > 0)
        ).select("src", "dst")
        if disappearing.isEmpty():
            after_rm = prev_labels
        else:
            after_rm = decremental_components(
                prev_labels, remaining, disappearing,
                rounds=rounds, assert_converged=assert_converged,
            )
        if appearing.isEmpty():
            labels = after_rm
        else:
            labels = incremental_components(
                after_rm, appearing,
                rounds=rounds, assert_converged=assert_converged,
            )
        # keep only live count rows (net != 0 keeps pending negative
        # tombstones so a late add still nets to absent); labels keep
        # every node ever seen (removal never deletes nodes)
        vdir = versioned.version_path(state_dir, vname)
        (
            merged.filter(F.col("cnt") != 0)
            .select("src", "dst", "cnt")
            .write.mode("overwrite")
            .parquet(os.path.join(vdir, "counts"))
        )
        labels.write.mode("overwrite").parquet(os.path.join(vdir, "labels"))
        merged.unpersist()
        # both datasets durable -> one atomic commit covers the pair
        versioned.commit(state_dir, vname)
        versioned.vacuum(state_dir, keep=keep_versions)

    return fold
