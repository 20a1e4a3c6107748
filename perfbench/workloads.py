"""The three workloads: set-up, one round of the chain, and its checks.

A round is one pass of the workload's chain of engine calls. Each call
is one *operation*; an operation fails when it raises or when its
output fails a check from ``checks``. Only the engine calls are timed;
checks run between rounds.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import gen

DIM = 64


@dataclass
class Round:
    seconds: float = 0.0
    items: int = 0
    ops: int = 0
    failures: dict[str, list[str]] = field(default_factory=dict)
    recall_hits: float = 0.0
    recall_total: float = 0.0
    steps: list[tuple[str, float]] = field(default_factory=list)

    def fail(self, op: str, errs: list[str]) -> None:
        if errs:
            self.failures.setdefault(op, []).extend(errs)


class Timer:
    """Accumulates the wall time of engine calls within a round."""

    def __init__(self, rnd: Round):
        self.rnd = rnd

    def __call__(self, label: str, fn, *args, **kwargs):
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        dt = time.perf_counter() - t
        self.rnd.seconds += dt
        self.rnd.steps.append((label, dt))
        return out


def read_parquet(path: str, columns: list[str] | None = None):
    """A written (hive-partitioned) table as Arrow, read without Spark so
    checks add no Spark jobs."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


class Workload:
    name = ""
    items = ""

    def __init__(self, spark, seed: int, work_dir: str, tracer, persisted: list):
        self.spark = spark
        self.seed = seed
        self.work = _reset(os.path.join(work_dir, self.name))
        self.tr = tracer
        # DataFrames cached by traced layer boundaries; the runner frees
        # them after every round
        self.persisted = persisted
        self.keep: list = []  # the set-up's cached inputs

    def generate(self, rep: int) -> None:
        """Make the seeded inputs; called several times, the last kept."""
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time set-up over the kept inputs (index builds)."""

    def round(self, i: int) -> Round:
        raise NotImplementedError

    def final_checks(self) -> list[str]:
        return []

    def release(self) -> None:
        """Free the cached inputs of an earlier set-up."""
        for df in self.keep:
            df.unpersist()
        self.keep.clear()


# ---------------------------------------------------------------- ingest

class Ingest(Workload):
    """Write path: chunk, embed and write a seeded markdown corpus per
    component, then build and write both vector indexes over it."""

    name = "ingest"
    items = "chunks"
    COMPONENTS = [("observer", 1), ("oms", 2), ("ocp", 3)]
    CHUNKS_PER_COMPONENT = 64
    IVF_NLIST = 8
    NSW_NLIST = 2

    def generate(self, rep: int) -> None:
        from pyspark.sql import functions as F

        self.release()
        self.corpus = gen.markdown_corpus(self.seed, self.CHUNKS_PER_COMPONENT, self.COMPONENTS)
        rows = [(c, u, t) for c, docs in self.corpus.docs.items() for u, t in docs]
        docs = self.spark.createDataFrame(rows, "comp string, doc_url string, text string").persist()
        docs.count()
        self.keep.append(docs)
        self.docs = {c: docs.filter(F.col("comp") == c).drop("comp") for c, _ in self.COMPONENTS}

    def round(self, i: int) -> Round:
        """One round; the warm-up (``i < 0``) ingests only the first
        component — the others run the same plans."""
        from chatbot_spark.operators.ann import IVFIndex
        from chatbot_spark.operators.hnsw import NSWGraphIndex
        from chatbot_spark.plans.ingest import ingest_documents

        out = _reset(os.path.join(self.work, f"round{i}"))
        table = os.path.join(out, "corpus")
        comps = self.COMPONENTS[:1] if i < 0 else self.COMPONENTS
        rnd = Round(items=len(self.corpus.expected))
        t = Timer(rnd)

        def ingest(comp, code):
            with self.tr.span("io"):
                ingest_documents(self.docs[comp], component=comp, component_code=code, output_path=table)

        for comp, code in comps:
            t(f"ingest:{comp}", ingest, comp, code)
            rnd.ops += 1

        def build(layer, cls, path, **kw):
            with self.tr.span(layer):
                corpus = self.spark.read.parquet(table).select("id", "embedding")
                cls.build(corpus, vec_col="embedding", id_col="id", **kw).write(path)

        t("ann:build", build, "ann", IVFIndex, os.path.join(out, "ivf"), nlist=self.IVF_NLIST)
        t("hnsw:build", build, "hnsw", NSWGraphIndex, os.path.join(out, "nsw"),
          nlist=self.NSW_NLIST, m=16, ef_construction=64)
        rnd.ops += 2
        self._check(rnd, out, comps)
        shutil.rmtree(out, ignore_errors=True)
        return rnd

    def _check(self, rnd: Round, out: str, comps: list[tuple[str, int]]) -> None:
        tbl = read_parquet(os.path.join(out, "corpus"))
        names = {c for c, _ in comps}
        expected = [e for e in self.corpus.expected if e[0].split("/")[1] in names]
        meta = [dict(m) for m in tbl.column("metadata").to_pylist()]
        codes = tbl.column("component_code").to_pylist()
        emb = tbl.column("embedding").to_pylist()
        got = [(m["doc_url"], m["enhanced_title"], d) for m, d in zip(meta, tbl.column("document").to_pylist())]
        for comp, code in comps:
            prefix = f"docs/{comp}/"
            mine = [i for i, g in enumerate(got) if g[0].startswith(prefix)]
            errs = checks.check_chunks(
                [e for e in expected if e[0].startswith(prefix)],
                [got[i] for i in mine],
                gen.MAX_CHUNK,
            )
            if any(meta[i]["component"] != comp or codes[i] != code for i in mine):
                errs.append("chunks carry the wrong component")
            if any(len(emb[i]) != DIM or not np.isfinite(np.asarray(emb[i], dtype=float)).all() for i in mine):
                errs.append("embeddings with the wrong dimension or non-finite values")
            rnd.fail(f"ingest:{comp}", errs)
        if len(got) != len(expected) or len(set(tbl.column("id").to_pylist())) != tbl.num_rows:
            rnd.fail(f"ingest:{comps[0][0]}", ["chunks outside the ingested components, or duplicate ids"])
        rnd.recall_hits += checks.chunk_recall(expected, got) * len(expected)
        rnd.recall_total += len(expected)
        for op, sub in (("ann:build", "ivf/cells"), ("hnsw:build", "nsw/graph")):
            n = read_parquet(os.path.join(out, sub), columns=["id"]).num_rows
            if n != tbl.num_rows:
                rnd.fail(op, [f"{sub} holds {n} rows, the table {tbl.num_rows}"])


# -------------------------------------------------------------- retrieve

class Retrieve(Workload):
    """Read path: query batches through ``plans.retrieve.retrieve`` in a
    fixed rotation over a seeded clustered corpus with both indexes."""

    name = "retrieve"
    items = "queries"
    N = 8000
    N_CLUSTERS = 64
    N_COMPONENTS = 4
    IVF_NLIST = 8
    NSW_NLIST = 4
    K = 10
    SLO = 0.9
    KINDS = ["ivf", "nsw", "component", "exact"]
    BATCH = {"ivf": 32, "nsw": 32, "component": 32, "exact": 8}
    POOL = 2  # distinct batches of each kind; rounds cycle through them

    def generate(self, rep: int) -> None:
        from _synth import clustered_corpus
        from pyspark.sql import functions as F

        from chatbot_spark.io.tables import write_corpus

        self.dir = _reset(os.path.join(self.work, "data"))
        ncomp = self.N_COMPONENTS
        corpus = clustered_corpus(
            self.spark, self.N, dim=DIM, n_clusters=self.N_CLUSTERS, id_col="id",
            id_start=gen.retrieve_id_start(self.seed),
            extra_cols={
                "component_code": lambda i: (i % ncomp).cast("int"),
                "document": lambda i: F.concat_ws(
                    " ", F.lit("doc"), i.cast("string"),
                    F.element_at(F.array(*[F.lit(w) for w in gen._WORDS]), (i % len(gen._WORDS) + 1).cast("int")),
                ),
            },
        )
        write_corpus(corpus, os.path.join(self.dir, "corpus.parquet"), mode="overwrite")
        corpus.unpersist()

    def prepare(self) -> None:
        """Build and write both indexes over the written corpus, compute
        the numpy ground truth, and cache the query batches."""
        from chatbot_spark.io.tables import load_table
        from chatbot_spark.operators.ann import IVFIndex
        from chatbot_spark.operators.hnsw import NSWGraphIndex

        ncomp = self.N_COMPONENTS
        table = load_table(self.spark, self.dir, "corpus")
        vecs = table.select("id", "embedding")
        IVFIndex.build(vecs, nlist=self.IVF_NLIST).write(os.path.join(self.dir, "ivf"))
        NSWGraphIndex.build(vecs, nlist=self.NSW_NLIST, m=16, ef_construction=64).write(
            os.path.join(self.dir, "nsw")
        )
        # ground truth: numpy over the written table
        arrow = read_parquet(os.path.join(self.dir, "corpus.parquet"), ["id", "embedding", "component_code"])
        ids = arrow.column("id").to_numpy()
        mat = np.array(arrow.column("embedding").to_pylist(), dtype=np.float64)
        comp = arrow.column("component_code").to_numpy()
        self.cvecs = dict(zip(ids.tolist(), mat))
        self.batches = gen.query_batches(
            self.seed, self.KINDS, self.POOL, self.BATCH, DIM, self.N_CLUSTERS, ncomp
        )
        self.truth: dict[int, list[int]] = {}
        self.truth_d: dict[int, list[float]] = {}
        self.comp_truth: dict[int, set[int]] = {}
        for b in self.batches:
            if b.kind == "component":
                for c in b.components:
                    sel = comp == c
                    idx, _ = checks.exact_topk(b.vecs, mat[sel], self.K)
                    for q, row in zip(b.ids, ids[sel][idx]):
                        self.comp_truth.setdefault(int(q), set()).update(row.tolist())
            else:
                idx, d = checks.exact_topk(b.vecs, mat, self.K)
                for q, row, drow in zip(b.ids, idx, d):
                    self.truth[int(q)] = ids[row].tolist()
                    self.truth_d[int(q)] = drow.tolist()
        rows = [
            (int(q), [float(x) for x in v], t, bi)
            for bi, b in enumerate(self.batches)
            for q, v, t in zip(b.ids, b.vecs, b.texts)
        ]
        qdf = self.spark.createDataFrame(
            rows, "query_id long, query_embedding array<float>, query_text string, batch int"
        ).persist()
        qdf.count()
        self.queries = qdf
        self.keep.append(qdf)

    def _cfg(self, kind: str, components: list[int], slo: float):
        from chatbot_spark.plans.retrieve import RetrieveConfig

        if kind in ("ivf", "nsw"):
            return RetrieveConfig(
                mode="universal", k=self.K, index_path=os.path.join(self.dir, kind),
                index_kind=kind, recall_slo=slo,
            )
        if kind == "component":
            return RetrieveConfig(mode="component", component_codes=components, rerank_enabled=True)
        return RetrieveConfig(mode="universal", k=self.K)

    def _search(self, bi: int, kind: str | None = None, slo: float = SLO):
        """Batch ``bi`` through ``retrieve`` on its own route, or on
        ``kind``'s route when given."""
        from pyspark.sql import functions as F

        from chatbot_spark.io.tables import load_table
        from chatbot_spark.plans.retrieve import retrieve

        b = self.batches[bi]
        with self.tr.span("io"):
            corpus = load_table(self.spark, self.dir, "corpus")
        with self.tr.span("retrieve"):
            q = self.queries.filter(F.col("batch") == bi).drop("batch")
            res = retrieve(q, corpus, self._cfg(kind or b.kind, b.components, slo))
            return [
                (r[0], r[1], r[2], r[3])
                for r in res.select("query_id", "neighbor_id", "rank", "dist").collect()
            ]

    def round(self, i: int) -> Round:
        n_kinds = len(self.KINDS)
        start = (i % self.POOL) * n_kinds
        rnd = Round()
        t = Timer(rnd)
        for bi in range(start, start + n_kinds):
            b = self.batches[bi]
            rows = t(f"batch:{b.kind}", self._search, bi)
            rnd.ops += 1
            rnd.items += len(b.ids)
            self._check(rnd, b, rows)
        return rnd

    def _check(self, rnd: Round, b: gen.QueryBatch, rows) -> None:
        op = f"batch:{b.kind}"
        qv = dict(zip(b.ids.tolist(), b.vecs))
        reranked = b.kind == "component" and len(b.components) > 1
        rnd.fail(op, checks.check_ranked(rows, qv, self.cvecs, self.K, by_distance=not reranked))
        if b.kind == "exact":
            sub_ids = {q: self.truth[q] for q in qv}
            rnd.fail(op, checks.check_exact(rows, sub_ids, self.truth_d))
        elif b.kind == "component":
            bad = [(q, n) for q, n, _, _ in rows if n not in self.comp_truth[q]]
            if bad:
                rnd.fail(op, [f"{len(bad)} rows outside the scoped components' top-{self.K}"])
            per_q = {}
            for q, *_ in rows:
                per_q[q] = per_q.get(q, 0) + 1
            if any(per_q.get(q, 0) != self.K for q in qv):
                rnd.fail(op, [f"not {self.K} rows for every query"])
        else:
            got: dict[int, list[int]] = {}
            for q, n, r, _ in sorted(rows, key=lambda x: (x[0], x[2])):
                got.setdefault(q, []).append(n)
            truth = {q: self.truth[q] for q in qv}
            rnd.recall_hits += checks.recall_at_k(got, truth, self.K) * self.K * len(truth)
            rnd.recall_total += self.K * len(truth)

    def final_checks(self) -> list[str]:
        """The first exact batch routed to IVF at full probe
        (recall_slo=1.0): row for row the numpy top-k."""
        bi = self.KINDS.index("exact")
        b = self.batches[bi]
        rows = self._search(bi, kind="ivf", slo=1.0)
        qv = dict(zip(b.ids.tolist(), b.vecs))
        return checks.check_ranked(rows, qv, self.cvecs, self.K) + checks.check_exact(
            rows, {q: self.truth[q] for q in qv}, self.truth_d
        )


# ---------------------------------------------------------------- curate

class Curate(Workload):
    """LLM data prep: quality filter, exact dedup, MinHash-LSH near-dup
    pairs, duplicate clusters, and embedding near-dup pairs."""

    name = "curate"
    items = "records"
    N_DOCS = 2000
    N_VECS = 1500
    QUALITY_MIN = 0.7
    JACCARD = 0.5
    COSINE = 0.95

    def generate(self, rep: int) -> None:
        self.release()
        self.truth = gen.curate_plan(self.seed, self.N_DOCS, self.N_VECS, DIM)
        import pandas as pd

        self.texts = gen.curate_docs(self.spark, self.truth)
        docs = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": list(self.texts), "text": list(self.texts.values())}),
            "doc_id long, text string",
        ).persist()
        docs.count()
        vecs = gen.curate_vecs_df(self.spark, self.truth).persist()
        vecs.count()
        self.docs, self.vecs = docs, vecs
        self.keep += [docs, vecs]
        self.vec_truth = checks.cosine_pairs(self.truth.vec_ids, self.truth.vecs, self.COSINE)
        self.near_truth = {
            p for p in self.truth.near_pairs
            if checks.jaccard(self.texts[p[0]], self.texts[p[1]]) >= self.JACCARD
        }

    def round(self, i: int) -> Round:
        from pyspark.sql import functions as F

        from chatbot_spark.operators.dedup import (
            exact_dedup,
            minhash_lsh_pairs,
            resolve_duplicate_clusters,
        )
        from chatbot_spark.operators.similarity import embedding_neardup_pairs_blocked
        from chatbot_spark.operators.textstats import quality_score

        rnd = Round(items=self.N_DOCS + len(self.truth.exact_copies) + self.N_VECS)
        t = Timer(rnd)
        local: list = []
        work = _reset(os.path.join(self.work, f"round{i}"))

        def filter_quality():
            with self.tr.span("textstats"):
                good = self.docs.filter(quality_score(F.col("text")) >= self.QUALITY_MIN)
                if self.tr.enabled:  # layer boundary: the filter's work lands here
                    good, _ = self.tr.materialize(good, self.persisted)
                return good

        def dedup_exact(good):
            with self.tr.span("dedup"):
                uniq = exact_dedup(good).persist()
                local.append(uniq)
                uniq.count()
                return uniq

        def lsh(uniq):
            with self.tr.span("dedup") as sp:
                pairs = minhash_lsh_pairs(uniq, jaccard_threshold=self.JACCARD).persist()
                local.append(pairs)
                rows = [(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()]
            if sp is not None:
                # dedup.verified_ratio: the unverified candidates are
                # counted after the span closes, so dedup's own time and
                # jobs leave them out
                sp.counts["verified_pairs"] = len(rows)
                sp.counts["candidate_pairs"] = minhash_lsh_pairs(uniq, verify=False).count()
            return pairs, rows

        def clusters(pairs):
            with self.tr.span("components"):
                return [(r[0], r[1]) for r in resolve_duplicate_clusters(pairs).collect()]

        def keep(uniq, cl):
            with self.tr.span("dedup"):
                drop = self.spark.createDataFrame(
                    [(d,) for d, c in cl if d != c], "doc_id long"
                )
                return {r[0] for r in uniq.join(drop, "doc_id", "left_anti").select("doc_id").collect()}

        def vec_pairs():
            with self.tr.span("similarity") as sp:
                df = embedding_neardup_pairs_blocked(
                    self.vecs, id_col="vec_id", vec_col="embedding",
                    min_cosine=self.COSINE, work_dir=work,
                )
                rows = [(r[0], r[1], r[2]) for r in df.collect()]
                if sp is not None:
                    sp.counts["pairs"] = len(rows)
                return rows

        try:
            good = t("textstats:quality", filter_quality)
            uniq = t("dedup:exact", dedup_exact, good)
            pairs, pair_rows = t("dedup:minhash", lsh, uniq)
            cl = t("components:resolve", clusters, pairs)
            kept = t("dedup:keep", keep, uniq, cl)
            vp = t("similarity:neardup", vec_pairs)
        finally:
            for df in local:
                df.unpersist()
        rnd.ops += 6
        self._check(rnd, pair_rows, cl, kept, vp)
        shutil.rmtree(work, ignore_errors=True)
        return rnd

    def _check(self, rnd: Round, pair_rows, cl, kept, vp) -> None:
        tr = self.truth
        survivors = set(tr.doc_ids) - tr.low_quality
        surv_texts = {d: self.texts[d] for d in survivors}
        rnd.fail("dedup:minhash", checks.check_text_pairs(pair_rows, surv_texts, self.JACCARD))
        want = checks.components_min(pair_rows)
        if dict(cl) != want:
            rnd.fail("components:resolve", ["canonical ids differ from union-find over the pairs"])
        expect_kept = {d for d in survivors if want.get(d, d) == d}
        if kept != expect_kept:
            rnd.fail("dedup:keep", [
                f"kept set differs: {len(kept - expect_kept)} unexpected, "
                f"{len(expect_kept - kept)} missing"
            ])
        rnd.fail("similarity:neardup", checks.check_vec_pairs(vp, self.vec_truth, self.COSINE))
        for found, planted in ((set(pair_rows), self.near_truth), ({(a, b) for a, b, _ in vp}, tr.vec_pairs)):
            rnd.recall_hits += checks.pair_recall(found, planted) * len(planted)
            rnd.recall_total += len(planted)


WORKLOADS = {w.name: w for w in (Ingest, Retrieve, Curate)}
