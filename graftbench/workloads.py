"""The benchmark's workloads: what one pass runs, how its outputs are
checked, the hygiene between passes, and the traced form of a pass.

A pass is a closed loop with one client: one driver thread runs one
operation at a time and forces each to completion.  Each workload holds
the generated input files and the generator's expected values.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import gen
import numpy as np

# Query keys per workload, in pass order.  ``queries.<key>_s`` reports
# each key's median per-operation time.
KEYS = {
    "sort_ints": ("sort_file",),
    "corpus_dedup": ("q_dedup_minhash_pairs", "q_dedup_ngram_jaccard", "q_tfidf_top_terms"),
    "stream_skew_join": ("q_stream_interval_join", "q_stream_windowed_agg"),
}

# Input sizes.  ``tiny`` is the smoke-test size.
SIZES = {
    "sort_ints": {"full": 2_000_000, "tiny": 20_000},
    "corpus_dedup": {"full": 1_500, "tiny": 300},
    "stream_skew_join": {"full": 200_000, "tiny": 5_000},
}


# Untimed passes between the cold pass and the timed warm passes.  The
# sort's first two passes after the cold one still run 10-20% slow while
# the JVM settles; a dedup pass is long enough that the cold pass warms it.
WARMUP_PASSES = {"sort_ints": 2}


def generate(name: str, seed: int, data_dir: str, size: str = "full") -> dict:
    """Write workload ``name``'s inputs under ``data_dir``; return the
    generator's metadata (input sizes and expected values)."""
    n = SIZES[name][size]
    if name == "sort_ints":
        return gen.gen_ints(seed, os.path.join(data_dir, "ints.txt"), n)
    if name == "corpus_dedup":
        return gen.gen_documents(seed, os.path.join(data_dir, "documents.parquet"), n)
    if name == "stream_skew_join":
        return gen.gen_events(seed, os.path.join(data_dir, "events.parquet"), n)
    raise ValueError(f"unknown workload {name!r}")


def _gate(measured: int, threshold: int) -> dict:
    side = "above" if measured >= threshold else "below"
    return {"measured": measured, "threshold": threshold, "side": side,
            "ratio": round(measured / threshold, 3)}


def _queries():
    import __spark_entry__

    return __spark_entry__.queries()


def _rows_digest(table) -> str:
    """Order-independent digest of an Arrow table's rows."""
    df = table.to_pandas()
    df = df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


class Workload:
    name = ""

    def __init__(self, spark, data_dir: str, meta: dict, inject_fault: bool = False):
        self.spark = spark
        self.data_dir = data_dir
        self.meta = meta
        # corrupt each output before it is checked; the smoke tests use
        # it to show the checks catch a wrong result
        self.inject_fault = inject_fault

    def ops(self):
        """[(key, fn)]: one pass; ``fn()`` returns what the checks read."""
        raise NotImplementedError

    def check(self, results: dict) -> list[tuple[str, bool]]:
        raise NotImplementedError

    def hygiene(self) -> None:
        """Between passes, outside the timed window."""

    def gates(self, results: dict) -> dict:
        """The measured input beside each package size gate it sits by."""
        return {}

    def traced_pass(self, tr) -> dict:
        """One pass as spans around calls into the package's layers.
        Returns the results ``check`` reads and the counts the layer
        metrics need."""
        raise NotImplementedError


class SortInts(Workload):
    name = "sort_ints"

    def __init__(self, spark, data_dir, meta, inject_fault=False):
        super().__init__(spark, data_dir, meta, inject_fault)
        self.input = os.path.join(data_dir, "ints.txt")
        self.output = os.path.join(data_dir, "ints_sorted")

    def ops(self):
        from mapreduce_framework_for_mergesort_spark.engine import MergeSortEngine

        engine = MergeSortEngine(self.spark)
        return [("sort_file", lambda: engine.sort_file(self.input, output_path=self.output))]

    def check(self, results):
        if self.inject_fault:
            swap_two_values(self.output)
        return check_sorted_output(self.output, self.meta["count"], self.meta["sum"])

    def hygiene(self):
        shutil.rmtree(self.output, ignore_errors=True)

    def traced_pass(self, tr):
        from mapreduce_framework_for_mergesort_spark.operators import ingest, sort

        root = tr.open("engine.sort_file")
        raw = tr.call("ingest.read_ints_text", ingest.read_ints_text, self.spark, self.input)
        valid = tr.call("ingest.drop_invalid", ingest.drop_invalid, raw)
        ordered = tr.call("sort.sort_global", sort.sort_global, valid, ["value"])
        tr.call("ingest.write_ints_text", ingest.write_ints_text, ordered, self.output)
        tr.close(root)
        return {"results": {"sort_file": self.output}, "counts": {}}


def read_ints_dir(path: str) -> list[np.ndarray]:
    """The part files of a sort output, in name order, as int64 arrays."""
    out = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, "rb") as f:
            out.append(np.array(f.read().split(), dtype=np.int64))
    return out


def swap_two_values(path: str) -> None:
    """Swap the first two distinct adjacent values of the first non-empty
    part file: same count and sum, broken order."""
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            lines = [line.split() for line in f]
        for line in lines:
            for i in range(len(line) - 1):
                if int(line[i]) != int(line[i + 1]):
                    line[i], line[i + 1] = line[i + 1], line[i]
                    with open(part, "w") as f:
                        f.writelines(" ".join(ln) + "\n" for ln in lines)
                    return


def check_sorted_output(path: str, count: int, total: int) -> list[tuple[str, bool]]:
    parts = read_ints_dir(path)
    vals = np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)
    ordered = bool(vals.size == 0 or np.all(vals[1:] >= vals[:-1]))
    return [
        ("sort_ints.order", ordered),
        ("sort_ints.count", int(vals.size) == count),
        ("sort_ints.sum", int(vals.sum()) == total),
    ]


class CorpusDedup(Workload):
    name = "corpus_dedup"

    def __init__(self, spark, data_dir, meta, inject_fault=False):
        super().__init__(spark, data_dir, meta, inject_fault)
        self.digests: dict[str, str] = {}

    def ops(self):
        q = _queries()
        return [
            (key, lambda key=key: q[key](self.spark, self.data_dir).toArrow())
            for key in KEYS[self.name]
        ]

    def check(self, results):
        """Replica groups share a cluster; each key's rows hash the same on
        every pass.  A key whose operation failed is already counted."""
        out = []
        clusters = results.get("q_dedup_minhash_pairs", results.get("clusters"))
        if clusters is not None:
            out.append(("corpus_dedup.replicas", self._replicas_together(clusters)))
        for key in KEYS[self.name]:
            if key in results:
                digest = _rows_digest(results[key])
                first = self.digests.setdefault(key, digest)
                out.append((f"corpus_dedup.stable.{key}", digest == first))
        return out

    def gates(self, results):
        from mapreduce_framework_for_mergesort_spark.operators import dedup as D
        from mapreduce_framework_for_mergesort_spark.operators import text as T
        from mapreduce_framework_for_mergesort_spark.queries import dedup_family as Q

        size = self.meta["input_bytes"]
        out = {
            "STRIP_ARROW_THRESHOLD_BYTES": _gate(size, Q.STRIP_ARROW_THRESHOLD_BYTES),
            "BM25_COLLAPSE_THRESHOLD_BYTES": _gate(size, T.BM25_COLLAPSE_THRESHOLD_BYTES),
            "HASH_MAT_THRESHOLD_BYTES": _gate(size, Q.HASH_MAT_THRESHOLD_BYTES),
        }
        table = results.get("q_dedup_minhash_pairs")
        if table is not None:
            edges = sum(1 for p in table.column("part").to_pylist() if p == "pair")
            out["DRIVER_UF_MAX_EDGES"] = _gate(edges, D.DRIVER_UF_MAX_EDGES)
        return out

    def _replicas_together(self, table) -> bool:
        d = table.to_pandas()
        label = dict(zip(d.loc[d["part"] == "cluster", "doc_a"], d.loc[d["part"] == "cluster", "doc_b"]))
        return all(
            len({label.get(doc) for doc in group}) == 1 and None not in {label.get(doc) for doc in group}
            for group in self.meta["replica_groups"]
        )

    def traced_pass(self, tr):
        from pyspark.sql import functions as F

        from mapreduce_framework_for_mergesort_spark.io import load_table
        from mapreduce_framework_for_mergesort_spark.operators import dedup as D
        from mapreduce_framework_for_mergesort_spark.operators import text as T
        from mapreduce_framework_for_mergesort_spark.operators.materialize import (
            input_bytes,
            materialize,
            materialize_if_large,
        )
        from mapreduce_framework_for_mergesort_spark.queries import dedup_family as Q

        spark = self.spark
        docs = load_table(spark, self.data_dir, "documents")
        docs_bytes = input_bytes(docs) or 0
        # the minhash key's chain
        hashed = tr.call(
            "dedup.content_hashes",
            lambda d: materialize_if_large(D.content_hashes(d), d, Q.HASH_MAT_THRESHOLD_BYTES),
            docs,
        )
        reps = tr.call(
            "dedup.exact_rep_ids",
            lambda d, h: d.join(D.exact_rep_ids(d, hashed=h), "doc_id", "semi"),
            docs, hashed,
        )
        bands = tr.call("dedup.minhash_bands", D.minhash_bands, reps)
        cands = tr.call("dedup.lsh_candidate_pairs", D.lsh_candidate_pairs, bands)
        edges = tr.call("dedup.exact_dup_edges", D.exact_dup_edges, docs, hashed=hashed)
        pairs = tr.call("materialize.materialize", lambda a, b: materialize(a.unionByName(b)), cands, edges)
        stats: dict = {}
        clusters = tr.call(
            "dedup.cluster_pairs", D.cluster_pairs, pairs, nodes=docs.select("doc_id"), stats=stats
        )
        # the n-gram key's chains; the query builds its own LSH
        # candidates, identical to ``cands``, so they are passed in
        tr.call(
            "dedup.ngram_jaccard_pairs", D.ngram_jaccard_pairs, reps, Q.JACCARD_TAU, candidates=cands
        )
        flags_lazy = tr.call("dedup.positional_gram_flags", D.positional_gram_flags, docs)
        flags = tr.call("materialize.materialize", materialize, flags_lazy)
        tr.call("dedup.dup_spans", D.dup_spans, docs, flags=flags)
        strategy = "arrow" if docs_bytes >= Q.STRIP_ARROW_THRESHOLD_BYTES else "codegen"
        tr.call("dedup.strip_dup_spans", D.strip_dup_spans, docs, flags=flags, strategy=strategy)
        # the tf-idf key
        tr.call("text.tfidf_top_terms", T.tfidf_top_terms, docs, 3)
        tr.call("text.bm25_topk", T.bm25_topk, docs)
        # cluster rows in the query's shape, for the replica check
        cluster_rows = clusters.select(
            F.lit("cluster").alias("part"),
            F.col("node").alias("doc_a"),
            F.col("cluster").alias("doc_b"),
        ).toArrow()
        tr.call("dedup.cluster_survivors", D.cluster_survivors, clusters)
        counts = {
            "docs": self.meta["docs"],
            "cluster_driver": 1.0 if stats.get("algorithm") == "driver_uf" else 0.0,
            "bm25_collapsed": 1.0 if docs_bytes >= T.BM25_COLLAPSE_THRESHOLD_BYTES else 0.0,
            "hash_materialized": 1.0 if docs_bytes > Q.HASH_MAT_THRESHOLD_BYTES else 0.0,
        }
        return {"results": {"clusters": cluster_rows}, "counts": counts}


class StreamSkewJoin(Workload):
    name = "stream_skew_join"

    def ops(self):
        q = _queries()
        return [(key, lambda key=key: q[key](self.spark, self.data_dir)) for key in KEYS[self.name]]

    def check(self, results):
        return self._check_join(results.get("q_stream_interval_join")) + self._check_windows(
            results.get("q_stream_windowed_agg")
        )

    def _check_join(self, df):
        if df is None:
            return [("stream.join_pairs", False), ("stream.join_probe_sum", False)]
        from pyspark.sql import functions as F

        row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("probe_id").alias("s")).first()
        return [
            ("stream.join_pairs", row["n"] == self.meta["join_pairs"]),
            ("stream.join_probe_sum", int(row["s"] or 0) == self.meta["join_probe_id_sum"]),
        ]

    def _check_windows(self, df):
        if df is None:
            return [("stream.windows", False)]
        got = {}
        for r in df.collect():
            hour = int((r["window_start"].timestamp() * 1_000_000 - gen._T0_US) // gen._HOUR_US)
            got[f"{hour}:{r['event_type']}"] = [int(r["n_events"]), int(round(r["total_value"] * 100))]
        return [("stream.windows", got == self.meta["windows"])]

    def gates(self, results):
        from mapreduce_framework_for_mergesort_spark.streaming.sources import (
            stream_state_partitions,
        )

        n = stream_state_partitions(self.spark, self.data_dir)
        return {"stream_state_partitions": {"measured": self.meta["input_bytes"],
                                            "threshold": "2 MiB per partition",
                                            "side": f"{n} partitions"}}

    def hygiene(self):
        # each drain registers a uniquely named memory-sink view
        for t in self.spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("q_stream_"):
                self.spark.catalog.dropTempView(t.name)

    def traced_pass(self, tr):
        from mapreduce_framework_for_mergesort_spark.io import scoped_session_confs
        from mapreduce_framework_for_mergesort_spark.streaming import (
            interval_join_events,
            windowed_event_aggregate,
        )
        from mapreduce_framework_for_mergesort_spark.streaming.sources import (
            run_to_memory_with_progress,
            stream_events,
            stream_state_partitions,
        )
        from pyspark.sql import functions as F

        spark, sf = self.spark, self.data_dir
        n = tr.call("streaming.stream_state_partitions", stream_state_partitions, spark, sf)
        progress = {}
        results = {}
        with scoped_session_confs(spark, (("spark.sql.shuffle.partitions", str(n)),)):
            probes = tr.call("streaming.stream_events", stream_events, spark, sf).where(
                F.col("event_id") % gen.PROBE_MOD == 0
            )
            others = tr.call("streaming.stream_events", stream_events, spark, sf)
            joined = tr.call(
                "streaming.interval_join_events", interval_join_events, probes, others, "6 hours", "1 day"
            )
            results["q_stream_interval_join"], progress["join"] = tr.call(
                "streaming.join", run_to_memory_with_progress, joined, "q_stream_traced_join", "append"
            )
            agg = tr.call(
                "streaming.windowed_event_aggregate",
                windowed_event_aggregate,
                tr.call("streaming.stream_events", stream_events, spark, sf),
            )
            results["q_stream_windowed_agg"], progress["agg"] = tr.call(
                "streaming.agg", run_to_memory_with_progress, agg, "q_stream_traced_agg", "complete"
            )
        return {"results": results, "counts": {"state_partitions": n, "progress": progress}}


WORKLOADS = {w.name: w for w in (SortInts, CorpusDedup, StreamSkewJoin)}
