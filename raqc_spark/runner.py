"""run_contract — lifecycle orchestration with checkpoint/resume.

Analogue of RAQC's eager CLI pipeline (SURVEY.md §3.1), but lazy and
resumable (BASELINE.json:14 "resumable from checkpoint with per-partition
lineage + metrics"):

- each check *family* (shared-scan group, plan.compile_plan) writes its
  violations to ``<run_dir>/violations/family=<id>/``, physically
  partitioned by ``partition_id`` and written with DYNAMIC partition
  overwrite — a retry replaces exactly the partitions it recomputed, never
  a sibling family's (or partition's) checkpointed output;
- one executor, ``_run_lane``, runs every contract: a *lane* is a list of
  families run chunk by chunk, each chunk as one union violations write
  and one union verdict collect. ``granularity`` picks the lanes (one per
  family, or one for the whole contract) and ``partition_batches`` the
  chunks (each splittable family cut into that many partition_id batches);
- after each chunk, a manifest entry per family is committed
  **atomically** (write-tmp-then-rename, SURVEY.md §7.3.4) carrying
  per-partition lineage: n_rows, n_violations, metric and pass per
  (check, partition_id), plus a ``complete`` flag per family;
- the manifest also pins a **fingerprint** of (contract, input files); a
  resume against a run_dir checkpointed under a different contract or input
  refuses instead of silently reusing stale verdicts;
- re-running with the same run_dir skips completed families outright and,
  for a partially-completed splittable family, recomputes ONLY the missing
  partition_ids (the completed partitions' verdicts are reconstructed from
  the manifest — no recompute, no rescan); a chunk is the unit a crash
  loses and a resume restarts from: the resume reruns the run's own
  partition batches, intersected with the partitions left to do, so it
  also reuses the generated classes the fresh run compiled for them;
- every write, collect and the cache fill runs under a Spark job group
  (``raqc:<lane's families>:chunk<i>:write|collect``, ``raqc:cache_fill``).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import tempfile
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raqc_spark.checks.blocks import union_all
from raqc_spark.contract import Contract
from raqc_spark.plan import CompiledFamily, compile_plan, prepare
from raqc_spark.results import VERDICT_SCHEMA


def _safe(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", name)


#: RFC 3986 scheme followed by "://" — distinguishes real URIs (decode the
#: percent-encoding) from bare filesystem paths (never decode; ADVICE r4).
_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


@dataclass
class RunResult:
    verdicts: DataFrame
    run_dir: str
    families_run: list[str]
    families_skipped: list[str]
    # families that resumed mid-way: name -> partition_ids recomputed
    partitions_resumed: dict[str, list[int]]

    @property
    def passed(self) -> bool:
        return self.verdicts.filter("NOT pass").count() == 0


def _file_stamp(uri: str) -> str:
    """path + size + mtime: a parquet file rewritten IN PLACE at the same
    path (same name, new data) must change the fingerprint, or resume would
    silently reuse stale checkpointed verdicts (ADVICE r2)."""
    # inputFiles() returns percent-encoded URIs (space -> %20); decode the
    # path component before stat, else those files silently fall back to the
    # path-only stamp and in-place rewrites go undetected again (ADVICE r3).
    if uri.startswith("file:") or _URI_SCHEME.match(uri):
        # file: or another recognized scheme (scheme://...): decode the
        # percent-encoding Spark applied; os.stat will usually fail for
        # remote schemes and fall back to the path-only stamp below, which
        # is correct for them
        path = unquote(urlparse(uri).path)
    else:
        # bare filesystem path: leave untouched — a literal '%2b' in a
        # directory name is part of the name, not an encoding (ADVICE r4)
        path = uri
    try:
        st = os.stat(path)
        return f"{uri}#{st.st_size}#{st.st_mtime_ns}"
    except OSError:  # pragma: no cover - remote/object-store URI: path only
        return uri


def contract_fingerprint(
    contract: Contract,
    s2: DataFrame,
    s1: DataFrame | None,
    commits_dim: DataFrame | None,
) -> str:
    """Identity of (contract spec, input files + their sizes/mtimes).
    Frozen-dataclass repr is deterministic; inputFiles() is scan metadata
    (no job). In-memory test DataFrames list no files — their fingerprint
    covers the contract only. A source that cannot enumerate files at all
    gets a unique token: such runs are NOT resumable (there is no way to
    prove the checkpointed data is the same data)."""
    parts = [repr(contract)]
    for df in (s2, s1, commits_dim):
        if df is None:
            parts.append("-")
        else:
            try:
                parts.append(
                    ",".join(sorted(_file_stamp(u) for u in df.inputFiles()))
                )
            except Exception:  # pragma: no cover - non-file sources
                parts.append(f"?nonresumable:{uuid.uuid4()}")
    return hashlib.sha256("||".join(parts).encode()).hexdigest()


class Manifest:
    """Per-partition checkpoint manifest, atomically swapped per entry.
    Thread-safe: families complete concurrently (run_contract pool).

    Layout: ``{"meta": {...}, "families": {name: {"verdicts": [...],
    "empty": [...], "complete": bool}}}``. Verdict rows merge by
    (check_name, partition_id) so batch commits accumulate; ``empty`` lists
    the partition_ids a committed chunk covered that produced no verdict row
    (partitions without rows); ``complete`` marks the family fully done.
    Legacy (round-1) entries without the flag are treated as complete.
    """

    def __init__(self, run_dir: str) -> None:
        self.path = os.path.join(run_dir, "manifest.json")
        self._lock = threading.Lock()

    def load(self) -> dict:
        if not os.path.exists(self.path):
            return {"meta": {}, "families": {}}
        with open(self.path) as f:
            data = json.load(f)
        data.setdefault("meta", {})
        return data

    def _swap(self, data: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, sort_keys=True)
        os.replace(tmp, self.path)

    def meta(self) -> dict:
        return self.load()["meta"]

    def set_meta(self, **kv) -> None:
        with self._lock:
            data = self.load()
            data["meta"].update(kv)
            self._swap(data)

    def record(
        self,
        family: str,
        verdict_rows: list[dict],
        complete: bool,
        empty: frozenset[int] = frozenset(),
    ) -> None:
        """Merge verdict rows into the family entry (keyed by
        (check_name, partition_id)) and ``empty`` into its row-less
        partition_ids, and set its complete flag."""
        with self._lock:
            data = self.load()
            entry = data["families"].setdefault(
                family, {"verdicts": [], "complete": False}
            )
            merged = {
                (r["check_name"], r["partition_id"]): r
                for r in entry.get("verdicts", [])
            }
            for r in verdict_rows:
                merged[(r["check_name"], r["partition_id"])] = r
            entry["verdicts"] = sorted(
                merged.values(), key=lambda r: (r["check_name"], r["partition_id"])
            )
            entry["empty"] = sorted(set(entry.get("empty", [])) | empty)
            entry["complete"] = bool(complete)
            self._swap(data)

    def state(self) -> dict[str, tuple[list[dict], bool]]:
        """family -> (verdict rows so far, complete?)."""
        out = {}
        for k, v in self.load()["families"].items():
            out[k] = (v.get("verdicts", []), bool(v.get("complete", True)))
        return out

    def empty_pids(self) -> dict[str, set[int]]:
        """family -> partition_ids committed without a verdict row."""
        return {
            k: set(v.get("empty", [])) for k, v in self.load()["families"].items()
        }


#: The thread-local properties ``SparkContext.setJobGroup`` sets.
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"
)


@contextmanager
def _job_group(group: str):
    """Run the enclosed actions under Spark job group ``group`` (shown in the
    Spark UI, queryable with ``statusTracker().getJobIdsForGroup``), then
    restore the calling thread's own group."""
    sc = SparkContext.getOrCreate()
    prior = [(k, sc.getLocalProperty(k)) for k in _JOB_GROUP_PROPS]
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in prior:
            sc.setLocalProperty(k, v)


def _write_violations(
    violations: DataFrame, out: str, keys: tuple[str, ...] = ("partition_id",)
) -> None:
    """Partition-granular idempotent sink: dynamic overwrite replaces only
    the partition directories present in this write. Violations are
    repartitioned onto their sink partitioning first — one writer task per
    directory instead of every task writing every directory (at 10^12-file
    scale the latter is a small-files explosion AND a slow commit)."""
    (
        violations.repartition(*[F.col(k) for k in keys])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*keys)
        .parquet(out)
    )


def _chunks(
    fam: CompiledFamily,
    pids: frozenset[int] | None,
    all_pids: frozenset[int],
    partition_batches: int,
) -> list[frozenset[int] | None]:
    """A family's partition chunks, in order. A splittable family's batches
    are cut once from ``all_pids`` into ``partition_batches`` batches, the
    same cut for a fresh run and every resume; each batch is intersected
    with ``pids`` (``None`` = all) and the empty ones dropped, so a resume
    reruns exactly the lost chunks with the pid sets (and so the generated
    classes) the fresh run used. Anything else is one chunk of ``pids`` as
    given (``None`` keeps the unfiltered plan)."""
    if not fam.splittable or partition_batches <= 1:
        return [pids]
    todo = all_pids if pids is None else pids
    ordered = sorted(all_pids)
    size = -(-len(ordered) // partition_batches)  # ceil division
    batches = (
        frozenset(ordered[i : i + size]) & todo
        for i in range(0, len(ordered), size)
    )
    return [b for b in batches if b]


def _run_lane(
    work: list[tuple[CompiledFamily, frozenset[int] | None]],
    run_dir: str,
    manifest: Manifest,
    partition_batches: int,
    all_pids: frozenset[int],
    overlap: bool,
) -> list[dict]:
    """Run a lane of families chunk by chunk. Chunk i builds every family
    that has an i-th chunk, writes their violations as ONE union write
    (partitioned by (family, partition_id) with dynamic overwrite, so other
    families' and other chunks' sinks stay intact) and collects their
    verdicts as ONE union collect, side by side when ``overlap``; then each
    family's manifest entry is committed, with the partitions of a
    splittable family's chunk that produced no verdict row (they hold no
    rows, and a resume must not list them again). Returns the verdict
    rows. Each write and collect runs under the job group
    ``raqc:<lane's families>:chunk<i>:write|collect``."""
    plans = [
        (fam, _chunks(fam, pids, all_pids, partition_batches))
        for fam, pids in work
    ]
    owner = {c.name: fam.name for fam, _ in work for c in fam.checks}
    lane = "+".join(fam.name for fam, _ in work)
    out = os.path.join(run_dir, "violations")
    all_rows: list[dict] = []
    for i in range(max((len(chunks) for _, chunks in plans), default=0)):
        step = [(fam, chunks) for fam, chunks in plans if i < len(chunks)]
        verdict_parts, viol_parts = [], []
        for fam, chunks in step:
            verdicts, violations = fam.build(chunks[i])
            verdict_parts.append(verdicts)
            if violations is not None:
                viol_parts.append(
                    violations.withColumn("family", F.lit(_safe(fam.name)))
                )

        group = f"raqc:{lane}:chunk{i}"

        def _write() -> None:
            if viol_parts:
                with _job_group(f"{group}:write"):
                    _write_violations(
                        union_all(viol_parts), out,
                        keys=("family", "partition_id"),
                    )

        def _collect() -> list[dict]:
            with _job_group(f"{group}:collect"):
                return [r.asDict() for r in union_all(verdict_parts).collect()]

        if overlap:
            with ThreadPoolExecutor(max_workers=1) as writer:
                written = writer.submit(_write)
                rows = _collect()
                written.result()
        else:
            _write()
            rows = _collect()
        for fam, chunks in step:
            fam_rows = [r for r in rows if owner[r["check_name"]] == fam.name]
            covered = (chunks[i] or all_pids) if fam.splittable else frozenset()
            empty = covered - {r["partition_id"] for r in fam_rows}
            manifest.record(
                fam.name, fam_rows, complete=i == len(chunks) - 1, empty=empty
            )
        all_rows.extend(rows)
    return all_rows


def run_contract(
    spark: SparkSession,
    contract: Contract,
    s2: DataFrame,
    s1: DataFrame | None = None,
    commits_dim: DataFrame | None = None,
    run_dir: str = "/tmp/raqc_spark_run",
    resume: bool = True,
    cache: bool = True,
    granularity: str = "family",
    partition_batches: int = 1,
) -> RunResult:
    """Run the full contract; returns verdicts + writes violation sinks.

    ``cache=True`` persists the prepared snapshot across check families
    (right call in local/bench mode; on a 100 TB cluster rely on the
    shared-scan fusion instead and pass cache=False).

    ``granularity`` picks the lanes, which run concurrently:
      * ``"family"`` (the default): one lane per check family, so every
        family has its own write and collect per chunk;
      * ``"run"``: one lane of the whole contract, so each chunk is TWO
        actions — one union violations write, one union verdict collect —
        the right mode for throughput runs.
    Either way the manifest records per-partition lineage per family, so a
    re-run resumes at family and partition level in both.

    ``partition_batches`` picks the chunks: each splittable family is split
    into this many partition_id batches (non-splittable ones run whole in
    the first chunk), checkpointing the manifest after each: a crash loses
    at most one chunk. The resume reruns the same batches, each
    intersected with the partitions that have no manifest entry (empty
    ones dropped), so it runs exactly the lost chunks, with the pid sets,
    and so the generated classes, of the first pass.

    ``resume=False`` starts clean: prior manifest and violation sinks under
    ``run_dir`` are removed (a fresh run must not inherit stale partitions).
    """
    os.makedirs(run_dir, exist_ok=True)
    manifest = Manifest(run_dir)
    fingerprint = contract_fingerprint(contract, s2, s1, commits_dim)
    if resume:
        prior = manifest.meta().get("fingerprint")
        if prior is not None and prior != fingerprint:
            raise ValueError(
                f"run_dir {run_dir!r} was checkpointed with a different "
                "contract or inputs; refusing to resume (pass resume=False "
                "for a fresh run, or use a new run_dir)"
            )
    else:
        if os.path.exists(manifest.path):
            os.remove(manifest.path)
        shutil.rmtree(os.path.join(run_dir, "violations"), ignore_errors=True)
    manifest.set_meta(fingerprint=fingerprint)
    state = manifest.state() if resume else {}
    empty = manifest.empty_pids() if resume else {}

    all_pids = frozenset(range(contract.partition_spec.num_partitions))
    s2p = prepare(s2, contract)
    persist_pool: list[DataFrame] = []  # tiny persisted intermediates
    s1p = None
    if s1 is not None:
        s1p = prepare(s1, contract)
        drift_cols = sorted(
            {
                c.column
                for c in contract.checks
                if c.kind in ("drift_psi", "drift_ks") and c.column
            }
        )
        if cache and drift_cols:
            # drift is the ONLY consumer of s1: cache the pruned projection
            # (partition_id + drift columns, ~30 B/row) so PSI and KS share
            # ONE scan of the previous snapshot instead of re-decompressing
            # its content column per check
            s1p = s1p.select("partition_id", *drift_cols).persist()
            persist_pool.append(s1p)
    if cache:
        if partition_batches > 1:
            # Local (no-shuffle) sort by partition_id before caching: the
            # in-memory columnar batches become runs of a single pid, so each
            # partition-batch build's `partition_id IN (...)` filter prunes
            # ~(1 - 1/batches) of the cache via batch min/max stats instead
            # of rescanning the whole table per chunk — the dominant cost of
            # batched family mode (VERDICT r3 task 5: 27.0s vs 15.5s run
            # mode on the same fixture).
            s2p = s2p.sortWithinPartitions("partition_id")
        s2p = s2p.persist()

    families = compile_plan(
        spark, contract, s2p, s1p, commits_dim, raw_schema=s2.schema,
        pool=persist_pool
    )
    all_rows: list[dict] = []
    ran, skipped = [], []
    resumed_parts: dict[str, list[int]] = {}
    work: list[tuple[CompiledFamily, frozenset[int] | None]] = []
    for fam in families:
        rows_done, complete = state.get(fam.name, ([], False))
        if complete:
            all_rows.extend(rows_done)
            skipped.append(fam.name)
        elif rows_done and fam.splittable:
            done_pids = {int(r["partition_id"]) for r in rows_done}
            done_pids |= empty.get(fam.name, set())
            remaining = frozenset(all_pids - done_pids)
            all_rows.extend(rows_done)
            if remaining:
                resumed_parts[fam.name] = sorted(remaining)
                work.append((fam, remaining))
            else:
                manifest.record(fam.name, [], complete=True)
                skipped.append(fam.name)
        else:
            # untouched, or partial-but-unsplittable: (re)run fully
            work.append((fam, None))
    try:
        # One lane per family (granularity="family"), or one lane of every
        # family (granularity="run"); lanes run concurrently. On small data
        # the per-family threads are what hide the gaps between jobs: one
        # lane running the batched contract chunk after chunk (8 actions)
        # measured 1.26x slower on batched4 at local[4] (wall 9.98 -> 12.56 s
        # median, 0/5 wins), while per-family lanes matched the separate
        # family and run executors they replaced (batched4 10.05 -> 9.83 s,
        # 10 pairs; run 5.64 -> 5.83 s, 5 pairs). A lane overlaps its write
        # and collect only over a filled cache (overlap=cache): two actions
        # over an unfilled cache each compute the scan (measured 229 s vs
        # 174 s sequential at local[2]), so one count fills it first.
        if cache and work:
            with _job_group("raqc:cache_fill"):
                s2p.count()
        lanes = [work] if granularity == "run" else [[w] for w in work]
        with ThreadPoolExecutor(max_workers=max(1, len(lanes))) as pool:
            futures = [
                pool.submit(
                    _run_lane, lane, run_dir, manifest, partition_batches,
                    all_pids, cache,
                )
                for lane in lanes
            ]
            for fut in futures:
                all_rows.extend(fut.result())
        ran.extend(fam.name for fam, _ in work)
    finally:
        if cache:
            s2p.unpersist()
        for t in persist_pool:
            t.unpersist()

    verdicts = spark.createDataFrame(
        [tuple(r[f.name] for f in VERDICT_SCHEMA.fields) for r in all_rows],
        schema=VERDICT_SCHEMA,
    )
    return RunResult(verdicts, run_dir, ran, skipped, resumed_parts)


def fresh_verdicts(
    spark: SparkSession, contract: Contract, s2: DataFrame, **kwargs
) -> DataFrame:
    """Verdicts of a ``run_contract(resume=False)`` in a throwaway run_dir.
    The verdicts are materialized rows, so the run_dir (manifest and
    violation sinks) is removed before they return."""
    run_dir = tempfile.mkdtemp(prefix="raqc_run_")
    try:
        return run_contract(
            spark, contract, s2, run_dir=run_dir, resume=False, **kwargs
        ).verdicts
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
