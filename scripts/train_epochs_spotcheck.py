"""q_train_epochs bench variance band (VERDICT r13 item 2).

Three same-tree r13 readings spanned 4.740-9.885 s (2.1x) — wider than
any other headline query — and one slow reading carried an IN-BAND spin,
so the spread is not all host phase.  This script establishes the band:

- N back-to-back idle reps of the exact bench-path query (best-of-1
  each, spin + Spark job count per rep, the bench's GC nudge between
  reps), after the bench's untimed sf0.001 warmup; then
- M phase-timed reps of the same composition (the library calls
  _pack_slices_union makes), attributing each rep's time to
  prep (encode/pack/materialize + localCheckpoint), dataset write,
  loader construction (r15: ONE read_packed_epochs call — batched
  positions + one all-ranks validate; was 4x read_packed_slices),
  union localCheckpoint, and the final count.

Usage:  python3 scripts/train_epochs_spotcheck.py [reps [phase_reps]]
Writes one JSON line per rep to stdout; summarize into SCALE.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

# the checkout this script belongs to, wherever it is
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pathwaydataframework_spark as pw  # noqa: E402
import __spark_entry__ as entry  # noqa: E402


def _spin() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    return time.perf_counter() - t0


def _gc_nudge(spark) -> None:
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass


def phase_timed(spark, sf: str) -> dict:
    """The q_train_epochs composition with per-phase timers — same
    library calls as _pack_slices_union(world=2, epochs=(0,1),
    equalize=True, skip {(1,0): 3})."""
    import shutil
    import tempfile

    from pathwaydataframework_spark.data import load_table
    from pathwaydataframework_spark.operators import bpe, packing

    out: dict[str, float] = {}
    t0 = time.perf_counter()
    docs = load_table(spark, sf, "documents").df
    trunc = entry._first_words(docs, 8)
    enc = bpe.bpe_encode(
        trunc, entry._bpe_fixture_vocab(), mode="longest", append_eos_id=55
    )
    layout = packing.pack_no_straddle(enc, "doc_id", "n_tokens", 32, shards=16)
    seqs = packing.materialize_sequences(
        enc, layout, max_tokens=32, pad_id=-1
    ).localCheckpoint()
    out["prep_s"] = round(time.perf_counter() - t0, 3)
    tmp = tempfile.mkdtemp(prefix="pw_epochs_spot_")
    try:
        t0 = time.perf_counter()
        packing.write_packed_dataset(seqs, tmp, max_tokens=32)
        out["write_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        # r15: the batched loader replaces the per-(epoch, rank)
        # read_packed_slices loop — loaders_s now covers ONE
        # read_packed_epochs construction (manifest GET + the one
        # all-ranks validate aggregate)
        union, _info = packing.read_packed_epochs(
            spark, tmp, 2, epochs=(0, 1),
            skip_seqs={(1, 0): 3}, equalize=True,
        )
        out["loaders_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        union = union.localCheckpoint()
        out["union_ckpt_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        out["rows"] = union.count()
        out["count_s"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out["total_s"] = round(
        sum(v for k, v in out.items() if k.endswith("_s")), 3
    )
    return out


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    phase_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = "/root/testdata/sf0.1"
    spark = pw.get_spark(app_name="epochs_spotcheck", cpus="32")
    spark.sparkContext.setLogLevel("ERROR")
    fn = entry.queries()["q_train_epochs"]

    # the bench's untimed warmup, at the bench's warmup SF
    fn(spark, "/root/testdata/sf0.001").count()

    tracker = spark.sparkContext.statusTracker()
    for i in range(reps):
        spark.sparkContext.setJobGroup(f"rep{i}", "spotcheck rep")
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        sec = round(time.perf_counter() - t0, 3)
        n_jobs = len(tracker.getJobIdsForGroup(f"rep{i}"))
        spin_ms = round(_spin() * 1000, 1)
        print(json.dumps({
            "rep": i, "sec": sec, "spin_ms": spin_ms,
            "n_jobs": n_jobs, "rows": n,
        }), flush=True)
        _gc_nudge(spark)

    for i in range(phase_reps):
        t = phase_timed(spark, sf_dir)
        t["phase_rep"] = i
        t["spin_ms"] = round(_spin() * 1000, 1)
        print(json.dumps(t), flush=True)
        _gc_nudge(spark)


if __name__ == "__main__":
    main()
