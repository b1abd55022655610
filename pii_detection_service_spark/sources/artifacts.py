"""Artifact distribution (SURVEY §2.1 S3-S6, re-expressed Spark-first).

The reference pulls a zipped model from S3 per request and caches it on
local disk (object_store_manager.py:9-17, predictor.py:20-35). On Spark
there are exactly two idiomatic mechanisms, both wrapped here:

- small lookup artifacts (gazetteers, LM tables):
  ``sc.broadcast`` — shipped once per executor, shared by all tasks.
- file artifacts (model archives): ``sc.addFile`` + ``SparkFiles.get`` —
  Spark downloads once per NODE (its own torrent-style distribution), the
  executor-side unzip replaces the reference's extract_zip (S6).

Both eliminate the reference's per-request model reload anti-pattern
(SURVEY §4): initialization happens once per executor process.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

from ..functions.tagger import FIRST_NAMES


def broadcast_gazetteer(spark: SparkSession, extra_names: set[str] | None = None):
    """Broadcast the (possibly extended) given-name gazetteer. Tasks read
    ``bc.value`` — one copy per executor, never per task."""
    names = set(FIRST_NAMES) | {n.lower() for n in (extra_names or set())}
    return spark.sparkContext.broadcast(frozenset(names))


def broadcast_arpa_lm(spark: SparkSession, arpa_path: str):
    """Load a char-bigram ARPA model (KenLM interchange format) driver-side
    and broadcast the flat score table — the production path for swapping
    the built-in stand-in LM for a real one: tasks score against
    ``bc.value`` with quality.perplexity_table, one table copy per
    executor (the same pattern as the gazetteer, sized ~0.5 MB for the
    257² char-bigram space)."""
    from ..functions.quality import load_arpa_char_bigram

    return spark.sparkContext.broadcast(load_arpa_char_bigram(arpa_path))


def distribute_archive(spark: SparkSession, archive_path: str) -> str:
    """S3+S6 equivalent: register a zip artifact for node-local distribution.
    Returns the archive's basename; executors resolve it with
    ``fetch_archive(name)`` (extracts once per process, cached)."""
    spark.sparkContext.addFile(archive_path)
    return os.path.basename(archive_path)


def fetch_archive(name: str, extract_subdir: str = "artifact") -> str:
    """Executor-side: locate the distributed archive and extract it next to
    the worker dir exactly once (the reference's extract-if-absent cache,
    predictor.py:30-35, minus the per-request S3 round-trip)."""
    from pyspark import SparkFiles

    local = SparkFiles.get(name)
    target = os.path.join(os.path.dirname(local), extract_subdir)
    marker = os.path.join(target, ".extracted")
    if not os.path.exists(marker):
        os.makedirs(target, exist_ok=True)
        with zipfile.ZipFile(local) as zf:
            zf.extractall(target)
        open(marker, "w").close()
    return target
