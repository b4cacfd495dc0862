"""Cross-table commit protocol without a lakehouse (SURVEY §4 transactionality).

The reference's registration transaction atomically commits entities +
datasets + file moves, rolling back on exception (register-omero.py:58-61).
One Delta table gives per-table ACID; a *batch* spanning samples/experiments/
datasets/files needs a manifest: stage every table write, then publish ONE
manifest file whose existence marks the batch committed.  Readers join
against the manifest (or simply ignore staging paths); a crashed job leaves
staging directories and no manifest — invisible, re-runnable, idempotent.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame

from ..catalog import _footer_schema
from .files import staged_write


def commit_batch(outputs: dict[str, DataFrame], root: str, batch_id: str | None = None) -> str:
    """Stage-write every table under `<root>/<table>/batch=<id>`, then
    atomically publish `<root>/_commits/<id>.json` listing them.

    Returns the manifest path.  If any table write fails, no manifest is
    written and previously staged tables of this batch are removed — the
    batch never becomes visible (all-or-nothing at manifest granularity).
    """
    batch_id = batch_id or uuid.uuid4().hex
    written: list[tuple[str, str]] = []
    try:
        for table, df in outputs.items():
            dest = os.path.join(root, table, f"batch={batch_id}")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            staged_write(df, dest)
            written.append((table, dest))
    except Exception:
        import shutil

        for _, dest in written:
            shutil.rmtree(dest, ignore_errors=True)
        raise
    commits_dir = os.path.join(root, "_commits")
    os.makedirs(commits_dir, exist_ok=True)
    manifest = {
        "batch_id": batch_id,
        "committed_at": time.time(),
        "tables": {t: d for t, d in written},
    }
    tmp = os.path.join(commits_dir, f".{batch_id}.json.tmp")
    final = os.path.join(commits_dir, f"{batch_id}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, final)
    return final


def committed_batches(root: str) -> list[str]:
    commits_dir = os.path.join(root, "_commits")
    if not os.path.isdir(commits_dir):
        return []
    return sorted(
        f[:-5] for f in os.listdir(commits_dir) if f.endswith(".json") and not f.startswith(".")
    )


# ---------------------------------------------------------------------------
# Optimistic-concurrency versioned upsert (W1/W5 under concurrent writers)
# ---------------------------------------------------------------------------
# The reference's getSampleForUpdate probe-loop (register-bam.py:118-131)
# relies on openBIS row locks; Delta MERGE relies on the log's CAS commit.
# Without a lakehouse, the same guarantee comes from a linear version chain
# of whole-table snapshots: writer stages merge(v_N, updates) and then
# CAS-publishes `_versions/v{N+1}.json` via O_CREAT|O_EXCL — exactly one
# writer wins a version; the loser discards its staging and retries against
# the winner's state, so no committed update is ever silently overwritten
# (the lost-update anomaly).  tests/test_scale_helpers.py interleaves two
# writers deterministically to prove it.


def _versions_dir(root: str) -> str:
    return os.path.join(root, "_versions")


def table_version(root: str) -> int:
    """Highest committed version (0 = empty table, no snapshot yet)."""
    vdir = _versions_dir(root)
    if not os.path.isdir(vdir):
        return 0
    versions = [
        int(f[1:-5])
        for f in os.listdir(vdir)
        if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
    ]
    return max(versions, default=0)


def try_publish_version(
    root: str,
    version: int,
    data_path: str,
    base: int | None = None,
    extra: dict | None = None,
) -> bool:
    """Compare-and-swap: atomically publish `_versions/v{version}.json`.
    Returns False (no side effects on the chain) if another writer already
    owns that version.

    `base` records the committed version this snapshot was merged FROM —
    optimistic_upsert uses it to detect (after the fact) whether a
    concurrent writer superseded a commit without merging it.

    The manifest is fully written to a writer-private temp file FIRST
    (named by pid + uuid, so same-process threads never share one) and
    published via os.link, which fails with EEXIST exactly like
    O_CREAT|O_EXCL — so the version file either does not exist or is
    complete; a concurrent reader can never observe an empty/partial
    manifest between creation and json.dump.  (os.rename is unsuitable as
    the arbiter: it silently overwrites on POSIX.)  On filesystems without
    hard links the publish falls back to O_CREAT|O_EXCL + copy — the same
    atomic arbiter, with a partial-visibility window the link path does
    not have; `read_version` tolerates that window (and a writer crashing
    inside it) by skipping unparseable manifests, so an aborted commit is
    recovered from, never wedging the chain (see read_version)."""
    import errno

    vdir = _versions_dir(root)
    os.makedirs(vdir, exist_ok=True)
    path = os.path.join(vdir, f"v{version}.json")
    tmp = os.path.join(vdir, f".v{version}.{os.getpid()}.{uuid.uuid4().hex}.tmp")
    record = {"version": version, "data": data_path, "committed_at": time.time()}
    if base is not None:
        record["base"] = base
    if extra:
        # check against the FULL manifest field set, not just the keys
        # present on this call: extra={"base": ...} alongside base=None
        # would otherwise forge lineage that optimistic_upsert's
        # withdrawal logic reads as real
        overlap = set(extra) & {"version", "data", "committed_at", "base"}
        if overlap:
            raise ValueError(f"extra keys shadow manifest fields: {sorted(overlap)}")
        # rides the SAME atomic manifest as the data pointer — this is how
        # a stream's applied-batch watermark commits in the one transaction
        # that publishes the batch's effect (foreachBatch idempotence)
        record.update(extra)
    payload = json.dumps(record)
    with open(tmp, "w") as fh:
        fh.write(payload)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    except OSError as exc:
        if exc.errno not in (errno.EPERM, errno.EOPNOTSUPP, errno.ENOTSUP):
            raise
        # no-hard-link filesystem: O_EXCL on the target is still the
        # atomic arbiter; the payload is ALREADY fully written to tmp, so
        # the winner immediately renames it over its own claimed path —
        # rename-replace of a path this writer exclusively claimed is
        # safe, and the torn-looking window shrinks to the two adjacent
        # syscalls (no data-dependent work between claim and publish).
        # A writer suspended inside that window longer than
        # optimistic_upsert's grace re-check can be misclassified as
        # crashed and superseded WITHOUT being merged — optimistic_upsert
        # detects that after the fact via the manifest `base` chain and
        # withdraws/retries instead of acknowledging (see its docstring).
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        os.close(fd)
        os.rename(tmp, path)
        return True
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass  # the fallback's rename already consumed tmp


def latest_committed_version(root: str) -> int:
    """Highest version whose manifest parses — walks down past torn
    manifests left by writers that crashed inside the no-hardlink
    fallback's claim window.  0 = nothing committed."""
    v = table_version(root)
    while v > 0:
        try:
            with open(os.path.join(_versions_dir(root), f"v{v}.json")) as fh:
                json.load(fh)
            return v
        except (ValueError, FileNotFoundError):
            v -= 1
    return 0


def version_record(root: str, version: int) -> dict:
    """The parsed manifest of a committed version (raises on torn/missing —
    callers name a version they believe committed)."""
    with open(os.path.join(_versions_dir(root), f"v{version}.json")) as fh:
        return json.load(fh)


def read_version(spark, root: str, version: int | None = None):
    """DataFrame of the given (default: latest) committed snapshot, or None
    for version 0.

    Crash tolerance: a writer that dies between claiming a version (the
    O_EXCL fallback path of try_publish_version) and finishing its payload
    leaves an empty/partial manifest.  When asked for the LATEST version,
    such manifests are skipped downward — the aborted commit is simply not
    part of the readable chain (its updates were never acknowledged), and
    the next writer allocates past the claimed number, so one torn file
    can never wedge the table.  An EXPLICITLY requested version still
    raises on a torn manifest: the caller named a version that does not
    hold a committed snapshot."""
    # the default-latest path delegates to the ONE torn-skip walk-down
    # (latest_committed_version) rather than re-implementing it
    version = latest_committed_version(root) if version is None else version
    if version == 0:
        return None
    with open(os.path.join(_versions_dir(root), f"v{version}.json")) as fh:
        data = json.load(fh)["data"]
    # the schema from one part file's footer: no inference job per read
    try:
        part = min(n for n in os.listdir(data) if n.startswith("part-"))
    except (OSError, ValueError):  # not a local directory, or no part file
        schema = None
    else:
        schema = _footer_schema(spark, os.path.join(data, part))
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(data)


def optimistic_upsert(spark, root: str, updates: DataFrame, keys: list[str], max_retries: int = 5) -> int:
    """MERGE with Delta-style optimistic concurrency: stage
    merge(latest, updates), CAS-publish the next version, retry from the
    new latest on conflict.  Returns the committed version number.

    Idempotent (re-running the same updates converges to the same rows)
    and lost-update-free on hardlink-capable filesystems (a conflicting
    writer's committed rows are always part of the state the retry merges
    onto; the os.link arbiter publishes complete manifests atomically).
    On the no-hardlink O_EXCL fallback the guarantee is
    lost-update-*detected*: a writer suspended inside the claim→rename
    window can be classified as crashed and superseded without being
    merged.  Each manifest records its merge `base`, so after publishing
    this writer checks every LATER manifest: if one committed from a base
    below this version, this commit was excluded from the lineage — the
    manifest is withdrawn (never acknowledged) and the loop retries onto
    the winner's state.  A later manifest whose base >= this version
    merged from this commit, so it is acknowledged normally — a benign
    fast successor never triggers withdrawal (and withdrawn commits leave
    their DATA directory in place: a concurrent writer that read the
    manifest pre-withdrawal may still be scanning it; orphaned snapshots
    are a GC-with-retention concern, exactly as in Delta/Iceberg).  The
    residual unreported sliver is a superseder that sampled this manifest
    torn and whose own manifest is not yet readable when this check runs.
    Snapshots are whole-table copy-on-write — the honest emulation cost;
    a real lakehouse replaces the snapshot with a delta log without
    changing this control flow.
    """
    import shutil
    from .merge import merge_upsert

    for _ in range(max_retries):
        # allocate past every CLAIMED number (torn manifests included) but
        # merge from the last COMMITTED snapshot: a torn manifest means an
        # aborted writer whose updates were never acknowledged.  A LIVE
        # fallback-path writer can look momentarily torn, so a mismatch
        # gets one short grace re-check before being treated as aborted.
        v = table_version(root)
        v_read = latest_committed_version(root)
        if v_read != v:
            time.sleep(0.05)
            v = table_version(root)
            v_read = latest_committed_version(root)
        try:
            current = read_version(spark, root, v_read) if v_read else None
        except FileNotFoundError:
            # v_read was withdrawn between resolution and read (a
            # concurrent writer's excluded-supersede recovery) — re-resolve.
            # Deliberately NARROW: staging failures below must surface,
            # not be converted into phantom CAS conflicts.
            continue
        merged = updates if current is None else merge_upsert(current, updates, keys)
        dest = os.path.join(root, "data", f"v{v + 1}-{uuid.uuid4().hex}")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        staged_write(merged, dest)
        if try_publish_version(root, v + 1, dest, base=v_read):
            if _superseded_without_merge(root, v + 1):
                # a concurrent writer sampled our manifest while torn,
                # classified us as crashed, and committed from an older
                # base: our rows are NOT in the latest lineage.  Withdraw
                # (this commit is never acknowledged) and retry so the
                # updates re-merge onto the winner's state.  Data dir
                # stays (see docstring).
                try:
                    os.unlink(os.path.join(_versions_dir(root), f"v{v + 1}.json"))
                except FileNotFoundError:
                    pass
                continue
            return v + 1
        # conflict: another writer owns v+1 — discard staging, merge onto
        # the winner's state next iteration (their rows survive ours)
        shutil.rmtree(dest, ignore_errors=True)
    raise RuntimeError(f"optimistic_upsert: gave up after {max_retries} conflicts")


def _superseded_without_merge(root: str, version: int) -> bool:
    """True when a manifest LATER than `version` committed from a merge
    base BELOW `version` — i.e. its writer did not see (or deliberately
    skipped) this commit, so `version` is outside the latest lineage.

    A later manifest that PARSES but records no `base` (a direct
    try_publish_version caller) is treated CONSERVATIVELY as excluding:
    its lineage is unknown, and acknowledging in the face of an unknown
    lineage is exactly the lost-update this check exists to prevent —
    the caller's retry is idempotent, so the false-positive cost is one
    extra merge round.  Torn/unparseable claims stay inert: they carry
    no committed rows."""
    vdir = _versions_dir(root)
    if not os.path.isdir(vdir):
        return False
    for name in os.listdir(vdir):
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        stem = name[1:-5]
        if not stem.isdigit() or int(stem) <= version:
            continue
        try:
            with open(os.path.join(vdir, name)) as fh:
                base = json.load(fh).get("base")
        except (OSError, ValueError):
            continue
        if base is None or base < version:
            return True
    return False


def vacuum(root: str, keep: int = 2, grace_seconds: float = 3600.0) -> dict:
    """Retention GC for the version chain — the VACUUM counterpart that
    optimistic_upsert's withdrawn-commit path defers to ("orphaned
    snapshots are a GC-with-retention concern, exactly as in
    Delta/Iceberg").

    Law (all driver-side filesystem metadata, no table scan):

      - the newest `keep` PARSEABLE manifests are the time-travel
        window: their manifests and data dirs are never touched;
      - manifests below the window lose their data dir first, then the
        manifest (a crash between the two leaves an unreferenced dir
        that the next run removes — never a manifest pointing nowhere
        inside the window);
      - a data dir referenced by NO manifest (aborted writer, withdrawn
        supersede victim, conflict-loser litter) is removed only once
        older than `grace_seconds` — a LIVE writer stages data before
        publishing its manifest, and the grace shields that window;
      - stale `.v*.tmp` manifest litter ages out under the same grace.

    As with real lakehouse VACUUM, `keep`/`grace_seconds` must exceed
    the longest-running reader/writer; a reader pinned to an evicted
    snapshot fails its next scan, which is the documented trade.

    Returns {"retained_versions", "removed_manifests", "removed_dirs"}.
    """
    import shutil

    if keep < 1:
        raise ValueError("keep must be >= 1 (the latest snapshot must survive)")
    vdir = _versions_dir(root)
    data_root = os.path.join(root, "data")
    now = time.time()
    manifests: dict[int, tuple[str, str | None]] = {}
    if os.path.isdir(vdir):
        for name in os.listdir(vdir):
            path = os.path.join(vdir, name)
            if name.startswith(".") and name.endswith(".tmp"):
                try:
                    aged = now - os.path.getmtime(path) > grace_seconds
                except FileNotFoundError:
                    continue  # the live writer unlinked it after listdir
                if aged:
                    try:
                        os.unlink(path)
                    except FileNotFoundError:
                        pass
                continue
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            stem = name[1:-5]
            if not stem.isdigit():
                continue
            try:
                with open(path) as fh:
                    data = json.load(fh).get("data")
            except (OSError, ValueError):
                continue  # torn claim: inert, owner may still publish it
            manifests[int(stem)] = (path, data)
    retained = sorted(manifests)[-keep:]
    referenced = {
        os.path.normpath(manifests[v][1]) for v in retained if manifests[v][1]
    }
    removed_manifests, removed_dirs = [], []
    for v in sorted(manifests):
        if v in retained:
            continue
        path, data = manifests[v]
        # never delete a data dir a RETAINED manifest still points at:
        # nothing in try_publish_version forbids two manifests sharing a
        # data path, so an evicted alias must not take the live copy down
        if data and os.path.isdir(data) and os.path.normpath(data) not in referenced:
            shutil.rmtree(data, ignore_errors=True)
            removed_dirs.append(os.path.normpath(data))
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass
        removed_manifests.append(v)
    if os.path.isdir(data_root):
        for name in os.listdir(data_root):
            d = os.path.join(data_root, name)
            if os.path.normpath(d) in referenced or not os.path.isdir(d):
                continue
            try:
                aged = now - os.path.getmtime(d) > grace_seconds
            except FileNotFoundError:
                continue  # a conflict-losing writer rmtree'd it after listdir
            if aged:
                shutil.rmtree(d, ignore_errors=True)
                removed_dirs.append(os.path.normpath(d))
    return {
        "retained_versions": retained,
        "removed_manifests": removed_manifests,
        "removed_dirs": removed_dirs,
    }
