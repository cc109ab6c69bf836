"""The benchmark workloads: set-up, the timed call, the output gate and the
traced layer-by-layer run of each.

Every timed call goes through the program's public functions only. The
traced runs call each layer's public function in the order the program's
own orchestration does, materializing each layer's output inside its own
span so its jobs, tasks and bytes can be attributed.
"""

from __future__ import annotations

import inspect
import os
import shutil
import statistics
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from entity_deduplication_spark.config import DedupConfig
from entity_deduplication_spark.datagen import generate_clips
from entity_deduplication_spark.operators import connected_components as cc_mod
from entity_deduplication_spark.operators.canonical import elect_canonical
from entity_deduplication_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
)
from entity_deduplication_spark.operators.stats import pair_confusion, rand_index
from entity_deduplication_spark.operators.verify import verified_edges
from entity_deduplication_spark.plans.pipeline import (
    DedupPipeline,
    build_signatures,
    candidate_pairs,
    exact_edges,
    unified_band_table,
)
from entity_deduplication_spark.sources.io import CheckpointManager, spread_partitions
from entity_deduplication_spark.streaming.ingest import stream_signatures

from perfbench import inputs

RECALL_GATE = 0.99  # BASELINE.json: dup-pair recall against planted truth


class GateError(Exception):
    """An output failed its correctness check."""


def pair_scores(pred: pd.Series, truth: pd.Series) -> tuple[int, int, int]:
    """(same-in-both, same-in-pred, same-in-truth) pair counts between two
    clusterings of the same ids, from their contingency table."""
    def c2(counts) -> int:
        n = np.asarray(counts, dtype=np.int64)
        return int((n * (n - 1) // 2).sum())

    both = c2(pd.DataFrame({"p": pred.values, "t": truth.values}).value_counts())
    return both, c2(pred.value_counts()), c2(truth.value_counts())


def union_find(ids, pairs) -> dict:
    """Min-id component label of every id under the undirected pairs."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def read_parquet_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


class Workload:
    """One workload: ``make_inputs`` (pure Python, repeated for the set-up
    median), ``load`` (once, after the Spark session is up), ``run`` (the
    timed call), ``check`` (its output gate; raises) and ``traced`` (the
    layer-by-layer run; returns per-layer counts)."""

    name: str
    records: int  # input records per call

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cfg = DedupConfig()
        self.quality: tuple[float, float] | None = None  # recall, precision
        self.latencies: list[float] = []  # per unit of work, last run

    def make_inputs(self) -> None: ...
    def load(self) -> None: ...
    def run(self) -> None: ...
    def check(self) -> None: ...
    def traced(self, tracer) -> dict: ...


# ---------------------------------------------------------------------------
# clip workloads
# ---------------------------------------------------------------------------

class _ClipPipeline(Workload):
    """Shared gate and trace of the two workloads ending in clusters +
    canonical, written as the CLI writes them."""

    n_clips: int

    def _write(self, clusters, canonical) -> None:
        out = os.path.join(self.work, "out")
        clusters.write.mode("overwrite").parquet(f"{out}/clusters")
        canonical.drop("record_ids").write.mode("overwrite").parquet(
            f"{out}/canonical"
        )

    def check(self) -> None:
        out = os.path.join(self.work, "out")
        cl = read_parquet_dir(f"{out}/clusters")
        can = read_parquet_dir(f"{out}/canonical")
        t = self.truth.set_index("clip_id")["true_cluster_id"]
        if len(cl) != len(t) or set(cl["clip_id"]) != set(t.index):
            raise GateError("clusters do not cover every input clip once")
        if len(can) != cl["cluster_id"].nunique():
            raise GateError("canonical rows != number of clusters")
        both, pred, true = pair_scores(
            cl.set_index("clip_id")["cluster_id"], t.reindex(cl["clip_id"])
        )
        if self.quality is None:
            self._cross_check(cl, (both, pred, true))
        recall, precision = both / true, both / max(pred, 1)
        self.quality = (recall, precision)
        if recall < RECALL_GATE:
            raise GateError(f"pair recall {recall:.4f} < {RECALL_GATE}")

    def _cross_check(self, cl: pd.DataFrame, counts) -> None:
        """The program's own pair_confusion must agree with the bench's
        pandas count (checked once per process; it is a Spark job)."""
        a = self.spark.createDataFrame(cl[["clip_id", "cluster_id"]])
        b = self.spark.createDataFrame(
            self.truth.rename(columns={"true_cluster_id": "cluster_id"})
        )
        r = pair_confusion(a, b).first()
        if (r["ss"], r["ss"] + r["sd"], r["ss"] + r["ds"]) != counts:
            raise GateError(f"pair_confusion {r} disagrees with {counts}")

    def _traced_chain(self, tracer, sig) -> dict:
        """band table -> candidates -> verify -> exact -> CC -> canonical,
        in DedupPipeline.run_from_signatures' order and materialization."""
        cfg, m = self.cfg, {}
        with tracer.span("band_table"):
            bt = unified_band_table(sig, cfg).persist(StorageLevel.MEMORY_AND_DISK)
            m["band_table.rows_out"] = bt.count()
        with tracer.span("candidates"):
            cand = candidate_pairs(sig, cfg).persist(StorageLevel.MEMORY_AND_DISK)
            pairs = cand.count()
        with tracer.span("verify"):
            ver = verified_edges(cand.select("id1", "id2"), sig, cfg).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            edges_out = ver.count()
        with tracer.span("exact_edges"):
            ex = exact_edges(sig, cfg).persist(StorageLevel.MEMORY_AND_DISK)
            m["exact_edges.edges_out"] = ex.count()
        with tracer.span("cc"):
            edges = (
                ver.unionByName(ex)
                .groupBy("id1", "id2")
                .agg(F.max("score").alias("score"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            clusters = cc_mod.connected_components(
                edges, nodes=sig.select("clip_id"),
                max_iterations=cfg.cc_max_iterations,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            clusters.count()
        with tracer.span("canonical"):
            canonical = elect_canonical(
                clusters.join(
                    sig.select("clip_id", "transcript_norm", "n_words"), "clip_id"
                ),
                order_col="n_words",
            )
            self._write(clusters, canonical)
        out = os.path.join(self.work, "out")
        n_edges = edges.count()  # a scan of the cached edge set
        m["cc.components"] = read_parquet_dir(f"{out}/clusters")["cluster_id"].nunique()
        m["canonical.rows_out"] = pq.read_table(f"{out}/canonical", columns=[]).num_rows
        small = inspect.signature(cc_mod.connected_components).parameters[
            "small_graph_edges"
        ].default
        m.update({
            "candidates.pairs_out": pairs,
            "candidates.pairs_per_record": pairs / self.records,
            "verify.pairs_in": pairs,
            "verify.edges_out": edges_out,
            "verify.pass_rate": edges_out / max(pairs, 1),
            "cc.edges_in": n_edges,
            "cc.union_find_path": int(0 < n_edges <= small),
        })
        return m


class BatchClips(_ClipPipeline):
    """DedupPipeline.run over one clips table, written as the CLI writes
    it: the batch job (not in BENCHMARK.json; see README.md)."""

    name = "batch_clips"
    n_clips = 300

    def make_inputs(self) -> None:
        clips, self.truth = generate_clips(self.n_clips, seed=self.seed)
        self.clips_path = os.path.join(self.work, "clips.parquet")
        inputs.write_clips(clips, self.clips_path)
        self.records = len(clips)

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.clips_path)

    def run(self) -> None:
        res = DedupPipeline(self.spark).run(self.df)
        self._write(res.clusters, res.canonical)

    def traced(self, tracer) -> dict:
        ck = CheckpointManager(self.spark, None)
        with tracer.span("signatures"):
            src = spread_partitions(self.df, key="clip_id")
            sig = ck.get_or_compute(
                "signatures", lambda: build_signatures(src, self.cfg), narrow=True
            )
        m = self._traced_chain(tracer, sig)
        m["signatures.rows_out"] = sig.count()
        return m


class StreamRecluster(_ClipPipeline):
    """The CLI's ``--stream-ingest`` flow: drain the clips directory
    through stream_signatures, then re-cluster the accumulated signatures
    with run_from_signatures."""

    name = "stream_recluster"
    n_clips = 500
    n_files = 16  # 2 micro-batches at the program's 8 files per trigger

    def make_inputs(self) -> None:
        clips, self.truth = generate_clips(self.n_clips, seed=self.seed)
        self.in_dir = inputs.fresh_dir(os.path.join(self.work, "stream_in"))
        inputs.write_clip_files(clips, self.in_dir, self.n_files)
        self.records = len(clips)

    def load(self) -> None:
        self.expected = None

    def _ingest(self):
        """Drain the backlog into a fresh signatures table."""
        self.sig_dir = inputs.fresh_dir(os.path.join(self.work, "signatures"))
        ck = os.path.join(self.work, "stream_ckpt")
        shutil.rmtree(ck, ignore_errors=True)
        q = stream_signatures(self.spark, self.in_dir, self.sig_dir, ck, self.cfg)
        q.awaitTermination()
        self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.latencies = [
            p["durationMs"]["triggerExecution"] / 1e3 for p in self.progress
        ]
        return self.spark.read.parquet(self.sig_dir)

    def run(self) -> None:
        res = DedupPipeline(self.spark).run_from_signatures(
            self._ingest(), resume=False
        )
        self._write(res.clusters, res.canonical)

    def check(self) -> None:
        got = read_parquet_dir(self.sig_dir)
        if len(got) != self.records:
            raise GateError(f"{len(got)} signature rows for {self.records} clips")
        if self.expected is None:
            # the batch signature layer over the same clips is the oracle
            ref = build_signatures(self.spark.read.parquet(self.in_dir), self.cfg)
            self.expected = _canon(ref.toPandas())
        if not _canon(got).equals(self.expected):
            raise GateError("stream signatures differ from build_signatures")
        super().check()

    def traced(self, tracer) -> dict:
        with tracer.span("stream"):
            sig = self._ingest()
        m = self._traced_chain(tracer, sig)
        prog = self.progress
        m.update({
            "stream.batches": len(prog),
            "stream.rows_per_batch": statistics.median(
                p["numInputRows"] for p in prog
            ),
            "stream.batch_wall_s": statistics.median(self.latencies),
            "signatures.rows_out": sum(p["numInputRows"] for p in prog),
            # the foreachBatch body (build_signatures + append) of each
            # micro-batch; the rest of the stream span is trigger overhead
            "signatures.wall_s": sum(
                p["durationMs"]["addBatch"] / 1e3 for p in prog
            ),
        })
        return m


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Signature rows in clip order, arrays as tuples, for equality."""
    df = df.sort_values("clip_id").reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df[sorted(df.columns)]


# ---------------------------------------------------------------------------
# text operators
# ---------------------------------------------------------------------------

class TextOps(Workload):
    """The exact n-gram pair join, MinHash-LSH dedup and the exact-vs-
    n-gram clustering agreement over one seeded documents table."""

    name = "text_ops"
    n_docs = 600

    def make_inputs(self) -> None:
        import __spark_entry__ as contract

        self.n, self.threshold = contract.NGRAM_N, contract.NGRAM_THRESHOLD
        docs, self.truth = inputs.docs(self.n_docs, self.seed)
        self.docs_path = os.path.join(self.work, "documents.parquet")
        inputs.write_docs(docs, self.docs_path)
        self.records = len(docs)
        self.texts = docs["text"]
        # shared-gram load of the input: a gram in f docs makes C(f, 2)
        # rows of the exact n-gram self-join
        freq = Counter()
        for text in self.texts:
            w = text.split()
            freq.update({" ".join(w[i:i + self.n]) for i in range(len(w) - self.n + 1)})
        f = np.fromiter(freq.values(), dtype=np.int64)
        self.gram_load = {
            "ngram.gram_rows": int(f.sum()),
            "ngram.join_rows": int((f * (f - 1) // 2).sum()),
        }

    def load(self) -> None:
        self.docs = self.spark.read.parquet(self.docs_path)
        self.oracle = None

    def _ngram(self):
        """The n-gram pairs, cached for the agreement to cluster."""
        pairs = ngram_jaccard_pairs(
            self.docs, "doc_id", "text", self.n, self.threshold
        ).persist(StorageLevel.MEMORY_AND_DISK)
        self.pairs = pairs.toPandas()
        return pairs

    def _agreement(self, pairs):
        """Exact vs n-gram clusters; the n-gram clusters are those of
        ngram_jaccard_clusters, built from the pairs already computed."""
        clusters = cc_mod.connected_components(
            pairs, nodes=self.docs.select(F.col("doc_id").alias("clip_id"))
        ).withColumnRenamed("clip_id", "doc_id")
        exact = exact_dedup(self.docs, "doc_id", F.col("text"))
        return rand_index(exact, clusters, id_col="doc_id").toPandas()

    def run(self) -> None:
        pairs = self._ngram()
        self.mh = minhash_lsh_dedup(self.docs, "doc_id", "text").toPandas()
        self.agree = self._agreement(pairs)

    def _oracle(self):
        import duckdb

        import __spark_entry__ as contract

        sql = contract.oracle_sql()
        con = duckdb.connect()
        try:
            path = self.docs_path.replace("'", "''")
            con.execute(
                f"CREATE TABLE documents AS SELECT * FROM read_parquet('{path}')"
            )
            pairs = con.execute(sql["dedup_ngram_jaccard_pairs"]).df()
            agree = con.execute(sql["clustering_agreement"]).df()
        finally:
            con.close()
        return pairs, agree

    def check(self) -> None:
        if self.oracle is None:
            self.oracle = self._oracle()
        o_pairs, o_agree = self.oracle
        got = self.pairs.sort_values(["id1", "id2"]).reset_index(drop=True)
        exp = o_pairs.sort_values(["id1", "id2"]).reset_index(drop=True)
        # ids exactly; 4-dp rounded ratios may differ in the last digit on
        # an exact rounding tie (engines round doubles differently)
        if not (
            len(got) == len(exp)
            and (got[["id1", "id2"]].values == exp[["id1", "id2"]].values).all()
            and np.allclose(got["jaccard"], exp["jaccard"], rtol=0, atol=1.0001e-4)
        ):
            raise GateError("ngram pairs differ from the DuckDB oracle")
        a, b = self.agree.iloc[0], o_agree.iloc[0]
        for c in ("n", "agree_pairs", "total_pairs"):
            if int(a[c]) != int(b[c]):
                raise GateError(f"agreement {c}: {a[c]} != oracle {b[c]}")
        for c in ("rand_index", "adjusted_rand"):
            if abs(float(a[c]) - float(b[c])) > 1.0001e-4:
                raise GateError(f"agreement {c}: {a[c]} != oracle {b[c]}")
        ids = self.truth["doc_id"].tolist()
        ngram = union_find(ids, zip(got["id1"], got["id2"]))
        # minhash clusters join docs with shingle Jaccard >= 0.8, a subset
        # of the n-gram graph, and must hold every exact copy together
        mh = self.mh.set_index("doc_id")["cluster_id"].reindex(ids)
        if mh.isna().any():
            raise GateError("minhash_lsh_dedup dropped documents")
        pred = pd.Series([ngram[i] for i in ids])
        if pred.groupby(mh.values).nunique().max() != 1:
            raise GateError("minhash cluster spans two n-gram clusters")
        if mh.groupby(self.texts.values).nunique().max() != 1:
            raise GateError("minhash split an exact-copy group")
        both, p, t = pair_scores(pred, self.truth["true_cluster_id"])
        self.quality = (both / t, both / max(p, 1))

    def traced(self, tracer) -> dict:
        with tracer.span("ngram"):
            pairs = self._ngram()
        with tracer.span("minhash_lsh"):
            self.mh = minhash_lsh_dedup(self.docs, "doc_id", "text").toPandas()
        with tracer.span("agreement"):
            self.agree = self._agreement(pairs)
        return {**self.gram_load, "ngram.pairs_out": len(self.pairs)}


WORKLOADS = {w.name: w for w in (StreamRecluster, TextOps, BatchClips)}
