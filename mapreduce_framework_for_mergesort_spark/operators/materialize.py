"""Materialization policy for intermediate index builds.

Several operators build an index DataFrame that is consumed by more than
one downstream plan branch (the LSH band index in
``dedup.lsh_candidate_pairs``, the quantized k-means training sample in
``similarity._trained_cents``).  Without materialization each consumer
re-executes the full build (measured 2× cost on the band index; the
round-2 bench regression on ``q_embed_ivf_topk`` was exactly this on the
then-DataFrame cell index).

Two mechanisms, chosen by session state:

* ``df.checkpoint(eager)`` — RELIABLE: blocks written to the configured
  checkpoint dir (HDFS/object store on a real cluster), survive executor
  loss and dynamic-allocation decommission.  Used whenever the session
  has ``sparkContext.setCheckpointDir(...)`` configured — which a 1000-
  executor deployment must (see README "scale posture"); the round-2
  advisory is right that unreplicated local blocks are a fault-tolerance
  regression at that scale.
* ``df.localCheckpoint(eager)`` — FAST: blocks on executor-local disk,
  reclaimed with the DataFrame by the ContextCleaner (no caller-side
  unpersist protocol, unlike ``persist()`` whose round-1 use leaked
  storage memory for the session lifetime).  Lost blocks fail the job
  instead of recomputing — acceptable on local[32] and for short-lived
  index builds, and the default when no checkpoint dir is set.

The module also holds the engine's one input-size measurement,
``input_bytes``, which every scale gate reads (README "Scale gates").
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage and cache ``df``'s result for multi-consumer reuse.

    Reliable checkpoint when the session has a checkpoint dir configured,
    executor-local checkpoint otherwise (see module docstring for the
    fault-tolerance tradeoff).
    """
    sc = df.sparkSession.sparkContext
    try:
        ckdir = sc.getCheckpointDir()
    except Exception:
        ckdir = None
    if ckdir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def input_bytes(source: DataFrame | str) -> int | None:
    """Input bytes of ``source`` — the engine's one input-size
    measurement, behind every scale gate.  ``source`` is a DataFrame
    (the summed length of its ``inputFiles()``: the scan files of the
    WHOLE plan, not the volume left after its filters or joins) or a
    table path (a file's length, or the recursive sum over a
    directory-layout table, skipping ``_``/``.``-prefixed files such as
    ``_SUCCESS`` markers and ``.crc`` checksums).

    Driver-side METADATA only: Hadoop FS lists the files and supplies
    each length (object stores through their Hadoop connector); no data
    is read.  Returns None only when nothing can be listed — no file
    scan in the plan, a missing path, a scheme with no FileSystem, no
    running SparkContext.  None means "unknown", never zero; each
    caller takes its safe side on it: ``materialize_if_large`` and
    ``input_at_least`` read not-large, ``io.scan_parallelism`` reads
    never-starved, ``stream_state_partitions`` takes the 2×cores cap.
    """
    if isinstance(source, str):
        sc = SparkContext._active_spark_context
        if sc is None:
            return None
        paths = [source]
    else:
        sc = source.sparkSession.sparkContext
        try:
            paths = source.inputFiles()
        except Exception:
            return None
        if not paths:
            return None
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    total = 0
    try:
        for f in paths:
            p = jvm.org.apache.hadoop.fs.Path(f)
            fs = p.getFileSystem(conf)
            status = fs.getFileStatus(p)
            if not status.isDirectory():
                total += status.getLen()
                continue
            files = fs.listFiles(p, True)
            while files.hasNext():
                status = files.next()
                if not status.getPath().getName().startswith(("_", ".")):
                    total += status.getLen()
    except Py4JJavaError:  # missing path, no FileSystem for the scheme
        return None
    return total


def input_at_least(source: DataFrame | str, threshold_bytes: int) -> bool:
    """Whether ``source`` measures at least ``threshold_bytes`` — the
    one comparison of the byte gates (``materialize_if_large``,
    ``bm25_topk(strategy="auto")``, the ``q_dedup_ngram_jaccard`` strip
    rebuild).  An unknown size is never large: the small-input side."""
    b = input_bytes(source)
    return b is not None and b >= threshold_bytes


def materialize_if_large(
    df: DataFrame, source: DataFrame, threshold_bytes: int
) -> DataFrame:
    """Materialize ``df`` only when ``source``'s scan input reaches
    ``threshold_bytes`` (unknown sizes stay unmaterialized — the cheap
    default).  The scale-adaptive spelling of a measured trade that
    flips with volume: re-running a cheap codegen projection per
    consumer beats a checkpoint write+read while the corpus is small,
    and loses once the re-scans dominate (the round-6 minhash key paid
    +2 s at x100 for a fixed unmaterialized choice that bought 0.5 s
    at x1)."""
    if input_at_least(source, threshold_bytes):
        return materialize(df)
    return df
