"""Independent expected outputs for the stage, and the checks that hold
every timed run to them.

The expected values come from the pure-Python kernels called one caption at
a time (langid_char_ngram, perplexity / perplexity_table, keep_decision,
tag_and_scrub), the same reference semantics tests/test_stage.py pins. They
are computed once per benchmark run, in worker processes, before anything is
timed. The stage's own fused batch path (udfs.score_batch) is never used here.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from pii_detection_service_spark.functions import quality, tagger

_LM_TBL = None


def _init(gazetteer, arpa_path):
    global _LM_TBL
    if gazetteer is not None:
        tagger.set_gazetteer(gazetteer)
    if arpa_path is not None:
        _LM_TBL = quality.load_arpa_char_bigram(arpa_path)


def _expect_one(cap: str) -> tuple:
    lang = quality.langid_char_ngram(cap)
    ppl = quality.perplexity(cap) if _LM_TBL is None else quality.perplexity_table(cap, _LM_TBL)
    keep, reason = quality.keep_decision(cap, lang, ppl)
    _, _, scrubbed, n_pii, n_toxic = tagger.tag_and_scrub(cap)
    return (lang, round(ppl, 4), keep, reason, n_pii, n_toxic, scrubbed)


def _score(distinct: list, gazetteer, arpa_path, procs: int) -> list:
    """Expected tuple of each caption in ``distinct``, scored in ``procs``
    child interpreters (this file run as a script) that are waited for before
    this returns. Plain subprocesses rather than multiprocessing, which would
    leave a resource-tracker process running until the benchmark exits."""
    chunks = [distinct[i::procs] for i in range(procs)]
    workers = []
    try:
        for _ in chunks:
            workers.append(subprocess.Popen([sys.executable, os.path.abspath(__file__)],
                                            stdin=subprocess.PIPE, stdout=subprocess.PIPE))
        for w, chunk in zip(workers, chunks):
            # each worker reads all of its input before it writes anything
            pickle.dump((gazetteer, arpa_path, chunk), w.stdin)
            w.stdin.close()
        results = []
        for w in workers:
            results.append(pickle.load(w.stdout))
            w.stdout.close()
            if w.wait() != 0:
                raise RuntimeError(f"oracle worker exited with {w.returncode}")
    finally:
        for w in workers:
            if w.poll() is None:
                w.kill()
                w.wait()
    scored = [None] * len(distinct)
    for i, res in enumerate(results):
        scored[i::procs] = res
    return scored


COLUMNS = ["image_id", "lang", "ppl", "keep", "drop_reason", "n_pii", "n_toxic",
           "scrubbed_caption", "caption", "bytes"]


def expected(inputs: pa.Table, gazetteer, arpa_path, procs: int) -> pa.Table:
    """The expected output rows of the input table, sorted by image_id, with
    ``COLUMNS``; ppl is rounded to 4 places, and caption and bytes are the
    input's. Each distinct caption is scored once, spread over ``procs``
    worker processes."""
    inputs = inputs.select(["image_id", "caption", "bytes"]).sort_by("image_id")
    captions = inputs.column("caption").to_pylist()
    distinct = sorted(set(captions))
    by_cap = dict(zip(distinct, _score(distinct, gazetteer, arpa_path, procs)))
    lang, ppl, keep, reason, n_pii, n_toxic, scrubbed = zip(*(by_cap[c] for c in captions))
    return pa.table({
        "image_id": inputs.column("image_id"), "lang": lang, "ppl": ppl, "keep": keep,
        "drop_reason": pa.array(reason, pa.string()), "n_pii": n_pii, "n_toxic": n_toxic,
        "scrubbed_caption": scrubbed, "caption": inputs.column("caption"),
        "bytes": inputs.column("bytes"),
    })


def digest(exp: pa.Table) -> str:
    """sha256 over the (image_id, lang, round(ppl, 4), keep, drop_reason,
    n_pii, n_toxic, scrubbed_caption) rows."""
    h = hashlib.sha256()
    for row in zip(*(exp.column(c).to_pylist() for c in COLUMNS[:8])):
        h.update(repr(row).encode("utf-8"))
    return h.hexdigest()


class OutputMismatch(AssertionError):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise OutputMismatch(msg)


def _first_diff(name: str, got: pa.ChunkedArray, exp: pa.Table) -> str:
    ids = exp.column("image_id").to_pylist()
    for i, (g, e) in enumerate(zip(got.to_pylist(), exp.column(name).to_pylist())):
        if g != e:
            if isinstance(e, (str, bytes)):
                g, e = g if g is None else g[:60], e[:60]
            return f"{ids[i]}: {name} is {g!r}, expected {e!r}"
    return f"{name} differs"


def check_stage_output(out_dir: str, exp: pa.Table, returned: dict,
                       pending_buckets: set | None, rewritten: set) -> dict:
    """Check one run_stage output directory against the expected rows. The
    output is read with pyarrow, not Spark, so the check neither depends on
    the engine under test nor adds work to its JVM.

    - every input row is written exactly once and matches the expected
      (lang, round(ppl, 4), keep, drop_reason, n_pii, n_toxic,
      scrubbed_caption);
    - caption and image bytes come back byte-equal, and kept clean rows have
      scrubbed_caption equal to caption;
    - lineage holds one done row per bucket and its n_rows sum to the input;
    - the call rewrote exactly the buckets it had to: a resumed call leaves
      the data files of completed buckets untouched;
    - the rows run_stage reports equal the rows of the buckets it (re)wrote.
    ``pending_buckets`` is the set of buckets this call had to (re)write, or
    None for a fresh run; ``rewritten`` the set whose data files it replaced
    or wrote. Returns facts the benchmark records."""
    data = pads.dataset(os.path.join(out_dir, "data"), format="parquet", partitioning="hive")
    got = data.to_table(columns=COLUMNS + ["bucket"])
    n = got.num_rows
    _require(n == exp.num_rows, f"written rows {n} != input rows {exp.num_rows}")
    got = got.take(pc.sort_indices(got, [("image_id", "ascending")]))
    ppl = pa.chunked_array([pa.array(
        [None if x is None else round(x, 4) for x in got.column("ppl").to_pylist()], pa.float64())])
    # image_id first: equal sorted ids mean every input row was written once
    for name in COLUMNS:
        col = ppl if name == "ppl" else got.column(name)
        col = col.cast(exp.schema.field(name).type)
        if not col.equals(exp.column(name)):
            raise OutputMismatch(_first_diff(name, col, exp))
    clean = pc.and_(got.column("keep"), pc.equal(pc.add(got.column("n_pii"), got.column("n_toxic")), 0))
    _require(pc.all(pc.equal(pc.filter(got.column("scrubbed_caption"), clean),
                             pc.filter(got.column("caption"), clean))).as_py() is not False,
             "a kept clean caption changed")
    counts = pc.value_counts(got.column("bucket"))
    bucket_rows = dict(zip(counts.field("values").to_pylist(), counts.field("counts").to_pylist()))

    lineage = pq.read_table(os.path.join(out_dir, "lineage"), columns=["bucket", "n_rows", "status"])
    done = [(b, r) for b, r, st in zip(*(lineage.column(c).to_pylist() for c in lineage.column_names))
            if st == "done"]
    lin = dict(done)
    _require(len(done) == len(lin), f"{len(done)} lineage rows for {len(lin)} buckets")
    _require(lin == bucket_rows, "lineage n_rows per bucket differ from the written data")
    redone = set(bucket_rows) if pending_buckets is None else pending_buckets
    _require(rewritten == redone,
             f"rewrote buckets {sorted(rewritten)}, expected {sorted(redone)}")
    n_redone = sum(bucket_rows[b] for b in redone)
    _require(returned.get("rows") == n_redone,
             f"run_stage reported {returned.get('rows')} rows, expected {n_redone}")
    return {"rows_written": n, "rows_redone": n_redone, "buckets": len(lin)}


if __name__ == "__main__":  # an oracle worker: see _score
    gaz, arpa, chunk = pickle.load(sys.stdin.buffer)
    _init(gaz, arpa)
    pickle.dump([_expect_one(c) for c in chunk], sys.stdout.buffer)
