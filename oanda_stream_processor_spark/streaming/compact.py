"""Store-partial compaction — fold ``batch_id=*`` partial directories
into consolidated generations (r17; VERDICT r16 Next-round #2).

THE PROBLEM: every incremental store in the serving stack (bm25gate's
tf/df/dl/corpus/blk/impact, the BM25F field store's seven lockstep
partials, truthgate's qpost/qsh/prox/phr/nrel/itop, proxgate/
phrasegate's positional postings, thetagate's external histogram)
writes one parquet directory per micro-batch.  At thousands of
availableNow batches the merged reads become a small-files scan:
file-listing cost grows linearly in batch count, per-file open/footer
overhead dominates the actual bytes, and the batch_id partition
column's value count explodes the file index.

WHY FOLDING IS SOUND: every partial in these stores is one of
  * UNION  — rows live in exactly one batch (doc-disjoint batches:
    tf, dl, tff, dlf, prox, phr, qpost, qsh, positional postings);
    concatenating fold rows into one generation is literally the
    same multiset the partitioned read unions;
  * SUM    — df, corpus (n_docs, sum_dl), fdf, fsum, fnd, nrel,
    impact, fimpact: the read's groupBy-SUM is associative, so
    pre-summing a fold and re-summing on read is the same integer;
  * MAX/MIN — blk, fblk: same associativity argument per key;
  * ITOP   — the per-batch ideal top-K lists: re-ranking the fold's
    union to TOP_K preserves the containment theorem (truthgate
    module docstring: removing rows only promotes the rest under
    (rel DESC, cand_id ASC), so the global ideal set stays inside
    the union of generation lists exactly as it stayed inside the
    union of batch lists).
Because all layouts keep the batch_id=<id> directory scheme, every
reader (plain partitioned scan + merge-on-read aggregate) works on a
compacted store UNCHANGED — compaction changes the file layout, never
the merged relation (pytest: per-prefix parity across a
compact-mid-sequence append run).

REPLAY SAFETY (why the newest batch is never folded): foreachBatch is
at-least-once — after a crash the LAST batch may re-run under the
same batch_id and overwrite its partition.  Any batch with a
SUCCESSOR partition on disk is already committed (the checkpoint
commits batch N before running N+1), so folding all ids except
max(ids) can never collide with a replay; the fold lands under
batch_id=min(fold) — an id a replay can never target again.  Batch-id
GUARDS keep working: lockstep layouts of one store are folded with
the SAME fold set, so cross-layout id-set comparisons
(thetagate.hist_not_ahead, truthgate's r17 coverage guard) stay
aligned; compacting only SOME layouts of a store would trip those
guards into their conservative fallbacks — sound, just slower — so
the per-store entry points below always fold all layouts together.

CRASH RECOVERY: the fold is staged under a dot-prefixed temp dir
(invisible to Spark's file index), then a commit MARKER (the folded
ids + target) is written atomically, then the folded partitions are
swapped out.  ``_recover`` replays the swap from the marker, so a
compactor killed mid-swap leaves a store that the next compact() call
heals before doing anything else; readers between the crash and the
heal see a torn store, which is why compaction is documented as a
stop-the-world maintenance operation (run it between availableNow
trigger cycles, never concurrently with the writer).  The rule is
single-writer: a store has exactly one writer, the ingest stream's
foreachBatch body, and compaction must never run beside another
writer of the same store.  The ``start_*_stream(compact_every=K)``
hook satisfies it by running the fold INSIDE that body, between two
of its own batch writes; a manual compact_* call must first stop the
stream.

Scale note (100 TB): compaction cost is one read+write of the folded
bytes per layout — O(store size), embarrassingly parallel, and
amortized over thousands of reads that each stop paying the
small-files tax; the SUM/MAX layouts SHRINK to their key cardinality
(|vocab|-bounded), itop shrinks to TOP_K·|queries|, and the union
layouts keep their bytes but drop to ``target_files`` parquet files
per generation.

Citation: the reference (/root/reference/src/main.rs, 433-line tick
ETL) has no persisted-store surface; north-star extension.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["compact_bm25_store", "compact_every_default",
           "compact_field_store", "compact_theta_store",
           "compact_truth_store", "store_file_count"]


def compact_every_default(compact_every: int | None) -> int:
    """Resolve a ``start_*_stream`` compaction cadence (r18; VERDICT
    r17 Next-round #3): an explicit kwarg wins; otherwise
    $SPARK_GRAFT_COMPACT_EVERY (production knob — the ingest loop
    compacts every K micro-batches); otherwise 0 = off, the pre-r18
    behavior.  Parameterised per the scale-settings rule: test-scale
    default unchanged, cluster cadence an env decision."""
    if compact_every is not None:
        return max(0, int(compact_every))
    return max(0, int(os.environ.get("SPARK_GRAFT_COMPACT_EVERY",
                                     "0") or 0))

_TMP = ".compact_tmp"
_MARKER = ".compact_commit"


def _batch_dirs(root: str) -> dict[int, str]:
    """{batch_id: path} for a layout directory — a plain os.listdir
    (the stores are directory-per-partition by construction; the
    writers already use os.path.isdir for replay detection, the same
    local-FS contract)."""
    if not os.path.isdir(root):
        return {}
    out: dict[int, str] = {}
    for name in os.listdir(root):
        if name.startswith("batch_id="):
            try:
                out[int(name.split("=", 1)[1])] = os.path.join(root,
                                                               name)
            except ValueError:
                continue
    return out


def _recover(layout_dir: str) -> None:
    """Finish a fold whose swap was interrupted: the marker records
    the folded ids and the target partition; re-applying it is
    idempotent (remove surviving folded partitions, move the staged
    generation into place, drop the marker)."""
    marker = os.path.join(layout_dir, _MARKER)
    if not os.path.isfile(marker):
        # a stale stage without a marker was never committed: discard
        shutil.rmtree(os.path.join(layout_dir, _TMP),
                      ignore_errors=True)
        return
    with open(marker) as fh:
        meta = json.load(fh)
    target = os.path.join(layout_dir, f"batch_id={meta['target']}")
    staged = os.path.join(layout_dir, _TMP)
    for i in meta["folded"]:
        p = os.path.join(layout_dir, f"batch_id={i}")
        if p != target:
            shutil.rmtree(p, ignore_errors=True)
    if os.path.isdir(staged):
        shutil.rmtree(target, ignore_errors=True)
        os.replace(staged, target)
    os.remove(marker)


def _fold_layout(spark: SparkSession, layout_dir: str, fold: set[int],
                 agg, target_files: int) -> None:
    """Fold one layout's ``fold`` partitions into batch_id=min(fold):
    stage -> marker -> swap (module docstring's recovery protocol).
    ``agg`` maps the fold's unioned rows to the generation's rows
    (identity for union layouts, the merge aggregate for SUM/MAX
    layouts, the bounded re-rank for itop)."""
    _recover(layout_dir)
    dirs = _batch_dirs(layout_dir)
    here = sorted(fold & set(dirs))
    if len(here) < 2:
        return
    df = agg(spark.read.parquet(*[dirs[i] for i in here]))
    staged = os.path.join(layout_dir, _TMP)
    shutil.rmtree(staged, ignore_errors=True)
    df.coalesce(target_files).write.mode("overwrite").parquet(staged)
    marker = os.path.join(layout_dir, _MARKER)
    with open(marker + ".part", "w") as fh:
        json.dump({"folded": here, "target": min(here)}, fh)
    os.replace(marker + ".part", marker)
    _recover(layout_dir)


def _sum_agg(keys: list[str], sums: dict[str, str]):
    def agg(df: DataFrame) -> DataFrame:
        aggs = [F.sum(c).alias(a) for c, a in sums.items()]
        return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    return agg


def _maxmin_agg(keys: list[str], mx: str, mn: str):
    def agg(df: DataFrame) -> DataFrame:
        return (df.groupBy(*keys).agg(F.max(mx).alias(mx),
                                      F.min(mn).alias(mn)))
    return agg


def _itop_agg(df: DataFrame) -> DataFrame:
    from ..operators.retrieval import TOP_K, _pool_rank
    return (_pool_rank(df, [F.desc("rel"), F.asc("cand_id")], TOP_K)
            .select("query_id", "cand_id", "rel"))


def _identity(df: DataFrame) -> DataFrame:
    return df


def _compact(spark: SparkSession, state_dir: str, layouts: dict,
             anchor: str, target_files: int) -> dict:
    """Shared driver: fold set = every batch id of the ANCHOR layout
    except the newest (replay safety), applied to all layouts in
    lockstep so cross-layout id-set guards stay aligned.  Returns a
    {layout: files_after} summary (plus the fold set) for logging and
    the bench row."""
    for sub in layouts:
        _recover(os.path.join(state_dir, sub))
    ids = set(_batch_dirs(os.path.join(state_dir, anchor)))
    fold = ids - ({max(ids)} if ids else set())
    out = {"folded": sorted(fold)}
    if len(fold) < 2:
        return out
    for sub, agg in layouts.items():
        _fold_layout(spark, os.path.join(state_dir, sub), fold, agg,
                     target_files)
    return out


def compact_bm25_store(spark: SparkSession, state_dir: str, *,
                       target_files: int = 4) -> dict:
    """Fold the six lockstep bm25gate layouts (tf/df/dl/corpus/blk/
    impact; a co-located truth/ layout, the r17 'auto' convention, is
    folded too when present so the canonical store compacts as one
    unit).  Read semantics unchanged (module docstring theorems)."""
    layouts = {
        "tf": _identity,
        "df": _sum_agg(["term"], {"df": "df"}),
        "dl": _identity,
        "corpus": _sum_agg([], {"n_docs": "n_docs",
                                "sum_dl": "sum_dl"}),
    }
    if os.path.isdir(os.path.join(state_dir, "blk")):
        layouts["blk"] = _maxmin_agg(["term", "block_id"],
                                     "max_tf", "min_dl")
    if os.path.isdir(os.path.join(state_dir, "impact")):
        layouts["impact"] = _sum_agg(["term", "tfc", "dlb"],
                                     {"n": "n"})
    out = _compact(spark, state_dir, layouts, "tf", target_files)
    truth = os.path.join(state_dir, "truth")
    if os.path.isdir(truth):
        out["truth"] = compact_truth_store(spark, truth,
                                           target_files=target_files)
    return out


def compact_field_store(spark: SparkSession, state_dir: str, *,
                        target_files: int = 4) -> dict:
    """Fold the seven lockstep BM25F field-store layouts."""
    layouts = {
        "tff": _identity,
        "dlf": _identity,
        "fdf": _sum_agg(["term"], {"df": "df"}),
        "fsum": _sum_agg(["field"], {"sum_dlf": "sum_dlf"}),
        "fnd": _sum_agg([], {"n_docs": "n_docs"}),
    }
    if os.path.isdir(os.path.join(state_dir, "fblk")):
        layouts["fblk"] = _maxmin_agg(["term", "field", "block_id"],
                                      "max_tf", "min_dlf")
    if os.path.isdir(os.path.join(state_dir, "fimpact")):
        layouts["fimpact"] = _sum_agg(["term", "field", "tfc",
                                       "dlbf"], {"n": "n"})
    return _compact(spark, state_dir, layouts, "tff", target_files)


def compact_truth_store(spark: SparkSession, state_dir: str, *,
                        target_files: int = 4) -> dict:
    """Fold the six truthgate layouts.  nrel pre-SUMs per query; itop
    re-ranks the fold's union to TOP_K (containment theorem — the
    generation list plays exactly the role a batch list played); the
    pair/posting layouts fold by union.  The r17 coverage guard keeps
    holding: all six fold with the same set, so the nrel/itop/prox
    batch-id sets stay equal."""
    layouts = {
        "qpost": _identity,
        "qsh": _identity,
        "prox": _identity,
        "phr": _identity,
        "nrel": _sum_agg(["query_id"], {"n_rel": "n_rel"}),
        "itop": _itop_agg,
    }
    return _compact(spark, state_dir, layouts, "prox", target_files)


def compact_theta_store(spark: SparkSession, state_dir: str, *,
                        target_files: int = 1) -> dict:
    """Fold an EXTERNAL theta histogram store (start_theta_stream's
    layout: batch_id=<id> directly under state_dir).  NOTE the
    hist_not_ahead guard compares this store's id set against the
    postings store's — compact BOTH with the same fold boundary (or
    accept the guard's conservative seed-pass fallback until the
    postings store catches up; never unsound either way)."""
    _recover(state_dir)
    ids = set(_batch_dirs(state_dir))
    fold = ids - ({max(ids)} if ids else set())
    if len(fold) < 2:
        return {"folded": sorted(fold)}
    _fold_layout(spark, state_dir, fold,
                 _sum_agg(["term", "tfc", "dlb"], {"n": "n"}),
                 target_files)
    return {"folded": sorted(fold)}


def store_file_count(state_dir: str) -> int:
    """Data files under a store tree (excluding markers/_SUCCESS) —
    the small-files metric the bench row reports."""
    n = 0
    for root, _dirs, files in os.walk(state_dir):
        n += sum(1 for f in files
                 if not f.startswith((".", "_")))
    return n
