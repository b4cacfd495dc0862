"""Tests for the 100 TB-scale helpers: salted aggregation, partitioned /
bucketed layout, and the cross-table commit manifest."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_scripts_spark.operators.skew import salted_agg
from etl_scripts_spark.sinks.commit import commit_batch, committed_batches
from etl_scripts_spark.sinks.layout import with_ingest_date, write_files_by_day


def test_salted_agg_matches_plain_groupby(spark):
    df = spark.range(10000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 100).cast("double").alias("v")
    )
    salted = salted_agg(
        df,
        ["k"],
        {
            "n": (F.count("*"), F.sum("n")),
            "tot": (F.sum("v"), F.sum("tot")),
            "mx": (F.max("v"), F.max("mx")),
        },
        n_salts=8,
    )
    plain = df.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("tot"), F.max("v").alias("mx")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-02 11:00:00")],
        "file_id LONG, ts STRING",
    ).withColumn("ts", F.to_timestamp("ts"))
    dest = str(tmp_path / "files")
    write_files_by_day(with_ingest_date(df, "ts"), dest)
    assert sorted(d for d in os.listdir(dest) if d.startswith("ingest_date=")) == [
        "ingest_date=2024-01-01",
        "ingest_date=2024-01-02",
    ]
    pruned = spark.read.parquet(dest).filter(F.col("ingest_date") == "2024-01-02")
    assert pruned.count() == 1
    # the filter must reach the scan as a partition filter, not a row filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-02" in plan


def test_commit_batch_all_or_nothing(spark, tmp_path):
    root = str(tmp_path / "warehouse")
    runs = spark.range(5).withColumnRenamed("id", "run_id")
    ds = spark.range(3).withColumnRenamed("id", "dataset_id")
    manifest = commit_batch({"runs": runs, "datasets": ds}, root, batch_id="b1")
    assert os.path.exists(manifest)
    assert committed_batches(root) == ["b1"]
    assert spark.read.parquet(os.path.join(root, "runs", "batch=b1")).count() == 5

    # a failing batch publishes nothing: second table name collides on disk
    class Boom:
        def __getattr__(self, _):
            raise RuntimeError("table write failed")

    with pytest.raises(Exception):
        commit_batch({"runs": runs, "bad": Boom()}, root, batch_id="b2")
    assert committed_batches(root) == ["b1"]
    assert not os.path.exists(os.path.join(root, "runs", "batch=b2"))


def test_drain_pins_min_8_state_shards(spark, sf_small):
    """Every AvailableNow drain starts its state store on min(8,
    configured) shards — 4 at a configured 4, 8 at a configured 32 —
    read from the progress events' stateOperators, and leaves the
    configured shuffle partitions as it found them."""
    from pyspark.sql.streaming import StreamingQueryListener

    from etl_scripts_spark.streaming.windowed import hourly_counts_available_now

    class Shards(StreamingQueryListener):
        def __init__(self):
            self.seen = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.seen += [op.numShufflePartitions for op in event.progress.stateOperators]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    listener = Shards()
    spark.streams.addListener(listener)
    try:
        for configured, want in ((4, 4), (32, 8)):
            spark.conf.set(conf, str(configured))
            listener.seen = []
            hourly_counts_available_now(spark, f"{sf_small}/events.parquet")
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            assert listener.seen and set(listener.seen) == {want}, listener.seen
            assert spark.conf.get(conf) == str(configured)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(conf, before)


def test_bucketed_samples_join_skips_shuffle(spark, tmp_path):
    """samples bucketed by project: a join between two co-bucketed tables
    must plan with NO Exchange on either side (the 100 TB point of
    bucketing), and the bucket spec must round-trip through the catalog."""
    import contextlib
    import io

    from etl_scripts_spark.catalog import samples_view
    from etl_scripts_spark.sinks.layout import write_samples_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed_test LOCATION '{tmp_path}'")
    try:
        samples = samples_view(spark.read.parquet("/root/testdata/sf0.001/customer.parquet"))
        write_samples_bucketed(samples, "bucketed_test.samples_a", n_buckets=8)
        write_samples_bucketed(samples, "bucketed_test.samples_b", n_buckets=8)
        desc = spark.sql("DESCRIBE EXTENDED bucketed_test.samples_a").toPandas()
        meta = dict(zip(desc.col_name, desc.data_type))
        assert meta.get("Num Buckets") == "8" and "project" in meta.get("Bucket Columns", "")

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = spark.table("bucketed_test.samples_a").groupBy("project").count()
            b = spark.table("bucketed_test.samples_b").groupBy("project").count()
            joined = a.join(b, "project")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "co-bucketed join should not shuffle"
            assert joined.count() == a.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketed_test CASCADE")


def test_compact_bounds_file_count_and_size(spark, tmp_path):
    """Compaction of a fragmented (64-partition) tiny table must produce
    ceil(rows/target) files, each within the record cap."""
    import glob

    from etl_scripts_spark.sinks.layout import compact

    frag = spark.range(1000).repartition(64)
    dest = str(tmp_path / "compacted")
    compact(frag, dest, target_rows_per_file=400)
    files = glob.glob(f"{dest}/part-*.parquet")
    assert len(files) == 3  # ceil(1000/400)
    sizes = [spark.read.parquet(f).count() for f in files]
    assert sum(sizes) == 1000 and max(sizes) <= 400


def test_source_mix_copy_counts(spark):
    """Expected-copy law: floor(w) guaranteed copies + fractional extra by
    salted hash; unweighted sources pass through exactly once; weight-0
    sources vanish; copy_idx enumerates 0..n-1."""
    from pyspark.sql import functions as F

    from etl_scripts_spark.operators.sampling import source_mix, split_hash

    df = spark.range(400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("source_id")
    )
    out = source_mix(df, {0: 2.5, 1: 1.0, 2: 0.6, 3: 0.0}, "source_id", "doc_id")
    rows = out.groupBy("source_id", "doc_id").count().collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source_id, []).append(r["count"])
    assert set(per_src[0]) <= {2, 3}       # 2.5 → 2 or 3 copies
    assert set(per_src[1]) == {1}          # exactly once
    assert set(per_src.get(2, [])) == {1}  # 0.6 → kept docs appear once
    assert 3 not in per_src                # weight 0 → dropped entirely
    assert set(per_src[4]) == {1}          # undeclared source passes through
    # the fractional decision replays from the same salted hash
    # (basis 10000 — weights resolve to 0.01%, not whole percent)
    kept2 = {r.doc_id for r in out.filter(F.col("source_id") == 2).collect()}
    expect2 = {
        r.doc_id
        for r in df.filter(F.col("source_id") == 2)
        .withColumn("bp", split_hash(F.col("doc_id"), "mix-v1", basis=10000))
        .filter(F.col("bp") < 6000)
        .collect()
    }
    assert kept2 == expect2
    # sub-percent weights are honored (the old whole-percent quantization
    # made 0.0005 collapse to 0): ~0.05% of 400 docs ≈ 0 or a few, but
    # the decision must match the hash law exactly
    out2 = source_mix(df, {0: 0.1234}, "source_id", "doc_id")
    kept0 = {r.doc_id for r in out2.filter(F.col("source_id") == 0).collect()}
    expect0 = {
        r.doc_id
        for r in df.filter(F.col("source_id") == 0)
        .withColumn("bp", split_hash(F.col("doc_id"), "mix-v1", basis=10000))
        .filter(F.col("bp") < 1234)
        .collect()
    }
    assert kept0 == expect0


def test_optimistic_upsert_interleaved_writers(spark, tmp_path):
    """Lost-update-free MERGE under interleaved commits (the W1/W5 scale
    story, reference getSampleForUpdate probe-loop): two writers both read
    v1, both stage, exactly ONE CAS wins the next version; the loser's
    retry merges onto the winner's committed state, so the final table
    holds BOTH writers' rows and the conflicting key resolves to the
    retrying writer (last committer), never to silent overwrite."""
    import os

    from etl_scripts_spark.sinks.commit import (
        optimistic_upsert,
        read_version,
        table_version,
        try_publish_version,
    )
    from etl_scripts_spark.sinks.files import staged_write
    from etl_scripts_spark.sinks.merge import merge_upsert

    root = str(tmp_path / "samples")
    base = spark.createDataFrame(
        [("S1", "base"), ("S2", "base")], "code string, src string"
    )
    assert optimistic_upsert(spark, root, base, ["code"]) == 1

    # Both writers read the SAME snapshot (v1) — the classic race window.
    v = table_version(root)
    assert v == 1
    state = read_version(spark, root, v)
    a_up = spark.createDataFrame([("S2", "A"), ("S3", "A")], "code string, src string")
    b_up = spark.createDataFrame([("S2", "B"), ("S4", "B")], "code string, src string")
    a_staged = os.path.join(root, "data", "race-a")
    b_staged = os.path.join(root, "data", "race-b")
    staged_write(merge_upsert(state, a_up, ["code"]), a_staged)
    staged_write(merge_upsert(state, b_up, ["code"]), b_staged)

    # B publishes first and wins v2; A's CAS on v2 MUST fail (no overwrite).
    assert try_publish_version(root, v + 1, b_staged) is True
    assert try_publish_version(root, v + 1, a_staged) is False
    assert table_version(root) == 2

    # A retries through the real loop: merges onto B's state, commits v3.
    assert optimistic_upsert(spark, root, a_up, ["code"]) == 3
    final = {r.code: r.src for r in read_version(spark, root).collect()}
    # nothing lost: B's S4 survived A's retry; S3 is A's; S2 = last committer
    assert final == {"S1": "base", "S2": "A", "S3": "A", "S4": "B"}

    # idempotent retry: re-running A's exact updates changes no rows
    assert optimistic_upsert(spark, root, a_up, ["code"]) == 4
    again = {r.code: r.src for r in read_version(spark, root).collect()}
    assert again == final


def test_optimistic_upsert_self_heals_and_bounds_retries(spark, tmp_path, monkeypatch):
    """Two laws of the retry loop: (1) versions claimed by other writers
    BEFORE an upsert starts just move the target — the upsert lands at
    top+1 with nothing lost (self-healing, zero retries burned); (2) a
    CAS that loses every attempt raises rather than spinning or silently
    dropping the updates, and every failed attempt removes its staging
    directory."""
    import os

    import pytest as _pytest

    from etl_scripts_spark.sinks import commit as commitmod
    from etl_scripts_spark.sinks.files import staged_write

    root = str(tmp_path / "contended")
    base = spark.createDataFrame([("S1", "base")], "code string, src string")
    assert commitmod.optimistic_upsert(spark, root, base, ["code"]) == 1

    # (1) adversary pre-claims 2..4 with real snapshots: upsert lands at 5
    adv = os.path.join(root, "data", "adversary")
    staged_write(base, adv)
    for v in (2, 3, 4):
        assert commitmod.try_publish_version(root, v, adv) is True
    up = spark.createDataFrame([("S2", "X")], "code string, src string")
    assert commitmod.optimistic_upsert(spark, root, up, ["code"]) == 5
    assert {r.code for r in commitmod.read_version(spark, root).collect()} == {"S1", "S2"}

    # (2) a perpetually-losing CAS exhausts retries and cleans staging
    before = set(os.listdir(os.path.join(root, "data")))
    monkeypatch.setattr(commitmod, "try_publish_version", lambda *a, **k: False)
    with _pytest.raises(RuntimeError, match="gave up"):
        commitmod.optimistic_upsert(spark, root, up, ["code"], max_retries=3)
    assert set(os.listdir(os.path.join(root, "data"))) == before


def test_publish_version_is_complete_or_absent(tmp_path):
    """The CAS publish must never expose a partially-written manifest: the
    version file, once visible, parses completely; the loser's attempt
    leaves no temp debris and does not clobber the winner's content."""
    import json
    import os

    from etl_scripts_spark.sinks.commit import try_publish_version

    root = str(tmp_path)
    assert try_publish_version(root, 1, "data/a")
    vpath = os.path.join(root, "_versions", "v1.json")
    assert json.load(open(vpath))["data"] == "data/a"
    # conflicting writer: returns False, winner's manifest intact
    assert not try_publish_version(root, 1, "data/b")
    assert json.load(open(vpath))["data"] == "data/a"
    # no temp files left behind by either attempt
    leftovers = [f for f in os.listdir(os.path.join(root, "_versions")) if f != "v1.json"]
    assert leftovers == []


def test_publish_version_no_hardlink_fallback(tmp_path, monkeypatch):
    """On filesystems without hard links (os.link -> EPERM), publish falls
    back to the O_CREAT|O_EXCL arbiter: winner publishes the full payload,
    loser returns False, no temp debris, and permissions match."""
    import errno
    import json
    import os

    from etl_scripts_spark.sinks import commit as commitmod

    def no_link(src, dst):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(commitmod.os, "link", no_link)
    root = str(tmp_path)
    assert commitmod.try_publish_version(root, 1, "data/a")
    vpath = os.path.join(root, "_versions", "v1.json")
    assert json.load(open(vpath))["data"] == "data/a"
    assert not commitmod.try_publish_version(root, 1, "data/b")
    assert json.load(open(vpath))["data"] == "data/a"
    leftovers = [f for f in os.listdir(os.path.join(root, "_versions")) if f != "v1.json"]
    assert leftovers == []
    assert (os.stat(vpath).st_mode & 0o777) <= 0o644


def test_read_version_skips_torn_manifest(spark, tmp_path):
    """A writer that died after claiming a version but before writing its
    payload (the fallback path's window) must not wedge the chain: latest
    reads skip the torn manifest downward; an explicit request raises."""
    import json
    import os

    import pytest as _pytest

    from etl_scripts_spark.sinks.commit import read_version, table_version, try_publish_version

    root = str(tmp_path)
    data1 = os.path.join(root, "d1")
    spark.range(3).write.parquet(data1)
    assert try_publish_version(root, 1, data1)
    # simulate the crash: v2 exists but is empty
    open(os.path.join(root, "_versions", "v2.json"), "w").close()
    assert table_version(root) == 2  # the claim still consumes the number
    assert read_version(spark, root).count() == 3  # latest falls back to v1
    with _pytest.raises(ValueError):
        read_version(spark, root, version=2)


def test_optimistic_upsert_recovers_past_torn_manifest(spark, tmp_path):
    """A torn (empty) latest manifest — a writer crashed inside the
    fallback claim window — must not wedge future upserts: the next writer
    merges from the last COMMITTED snapshot and allocates past the claim."""
    import os

    from etl_scripts_spark.sinks.commit import (
        latest_committed_version,
        optimistic_upsert,
        read_version,
        table_version,
    )

    root = str(tmp_path)
    v1 = optimistic_upsert(
        spark, root, spark.createDataFrame([(1, "a")], "k long, v string"), ["k"]
    )
    assert v1 == 1
    open(os.path.join(root, "_versions", "v2.json"), "w").close()  # torn claim
    assert table_version(root) == 2 and latest_committed_version(root) == 1
    v3 = optimistic_upsert(
        spark, root, spark.createDataFrame([(2, "b")], "k long, v string"), ["k"]
    )
    assert v3 == 3  # allocated past the torn claim
    rows = {r.k: r.v for r in read_version(spark, root).collect()}
    assert rows == {1: "a", 2: "b"}  # v1's row survived the recovery

def test_supersede_detection_via_base_chain(tmp_path):
    """Excluded-supersede detection (ADVICE r5, reworked per review): a
    LATER manifest whose merge base is BELOW a version means that version
    was superseded without being merged; a later manifest based ON it is a
    benign fast successor and must not trigger withdrawal."""
    from etl_scripts_spark.sinks import commit as commitmod

    root = str(tmp_path)
    assert commitmod.try_publish_version(root, 1, "data/base", base=0)
    assert commitmod.try_publish_version(root, 2, "data/ours", base=1)

    # benign successor: v3 merged FROM v2 — v2 stays acknowledged
    assert commitmod.try_publish_version(root, 3, "data/next", base=2)
    assert commitmod._superseded_without_merge(root, 2) is False

    # excluding successor: v4 committed from base v1, skipping v2
    assert commitmod.try_publish_version(root, 4, "data/winner", base=1)
    assert commitmod._superseded_without_merge(root, 2) is True
    # v3 (base=2) is NOT excluded by v4's existence check for version 3:
    # v4's base (1) < 3, so v3 is also flagged — its writer re-merges too
    assert commitmod._superseded_without_merge(root, 3) is True
    # the winner itself is clean
    assert commitmod._superseded_without_merge(root, 4) is False
    # a later PARSEABLE manifest without a base (direct publish caller)
    # is conservatively excluding — unknown lineage must not be
    # acknowledged over; a TORN claim stays inert (no committed rows)
    import json as _json
    import os as _os

    with open(_os.path.join(root, "_versions", "v6.json"), "w") as fh:
        _json.dump({"version": 6, "data": "data/nobase"}, fh)
    assert commitmod._superseded_without_merge(root, 5) is True
    _os.unlink(_os.path.join(root, "_versions", "v6.json"))
    open(_os.path.join(root, "_versions", "v7.json"), "w").close()  # torn
    assert commitmod._superseded_without_merge(root, 5) is False


def test_optimistic_upsert_withdraws_and_retries_when_excluded(spark, tmp_path, monkeypatch):
    """End-to-end excluded-supersede recovery: a concurrent writer commits
    from an older base right after our publish (the torn-window
    misclassification).  optimistic_upsert must NOT acknowledge the
    excluded version — it withdraws the manifest (data dir left for GC)
    and retries, so the final table still contains our rows merged onto
    the winner's state."""
    import json as _json
    import os as _os

    from etl_scripts_spark.sinks import commit as commitmod
    from etl_scripts_spark.sinks.files import staged_write

    root = str(tmp_path / "t")
    base = spark.createDataFrame([("S1", "base")], "code string, src string")
    assert commitmod.optimistic_upsert(spark, root, base, ["code"]) == 1

    # winner's snapshot staged from v1 (without our rows)
    winner = _os.path.join(root, "data", "winner")
    staged_write(base, winner)

    real_publish = commitmod.try_publish_version
    state = {"injected": False}

    def publish_then_supersede(r, version, data_path, base=None):
        ok = real_publish(r, version, data_path, base=base)
        if ok and not state["injected"] and version == 2:
            state["injected"] = True
            # concurrent writer sampled our v2 torn, committed v3 from v1
            assert real_publish(r, 3, winner, base=1)
        return ok

    monkeypatch.setattr(commitmod, "try_publish_version", publish_then_supersede)
    up = spark.createDataFrame([("S2", "ours")], "code string, src string")
    got = commitmod.optimistic_upsert(spark, root, up, ["code"])
    assert got == 4  # v2 withdrawn, v3 is the winner, retry landed at v4
    assert not _os.path.exists(_os.path.join(root, "_versions", "v2.json"))
    final = {r.code: r.src for r in commitmod.read_version(spark, root).collect()}
    assert final == {"S1": "base", "S2": "ours"}  # nothing lost


def test_zorder_layout_bounds_stats_on_every_dimension(spark, tmp_path):
    """The point of Z-ordering: each written file's parquet min/max must be
    TIGHT on BOTH dimensions (so a predicate on either prunes files),
    whereas a lexicographic sort leaves the second column spanning the
    whole domain in every file.  Verified from the actual parquet footer
    statistics of the written files."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_scripts_spark.sinks.layout import write_zordered, zorder_key

    n, files = 4096, 8
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    zdest = str(tmp_path / "zorder")
    ldest = str(tmp_path / "lexi")
    # pin the file count: under full-suite cache state, AQE's partition
    # coalescing can merge range partitions and widen per-file spans,
    # which is orthogonal to what this test asserts
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        write_zordered(df, zdest, ["x", "y"], n_files=files, bits=6)
        (
            df.repartitionByRange(files, "x", "y")
            .sortWithinPartitions("x", "y")
            .write.parquet(ldest)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)

    def spans(dest):
        out = []
        for p in sorted(glob.glob(f"{dest}/part-*.parquet")):
            md = pq.ParquetFile(p).metadata
            lo = {c: None for c in ("x", "y")}
            hi = {c: None for c in ("x", "y")}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if name in lo and st is not None:
                        lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                        hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
            out.append({c: hi[c] - lo[c] for c in ("x", "y")})
        return out

    zs, ls = spans(zdest), spans(ldest)
    # z-order: files cover contiguous curve ranges, so their min/max is a
    # fraction of the 0..63 domain on BOTH dims — except a file whose
    # SAMPLED range boundary straddles a top-level quadrant line, which
    # legitimately spans that dim (O(1) such files regardless of file
    # count).  Assert the bound holds for all but at most 2 files per dim.
    for dim in ("x", "y"):
        wide = sum(1 for s in zs if s[dim] > 40)
        assert wide <= 2, (dim, zs)
    # lexicographic: x is tight but y spans (almost) the full domain in
    # every file — the layout z-order exists to beat
    assert all(s["y"] >= 48 for s in ls), ls

    # round-trip: the layout must not lose or duplicate rows
    assert spark.read.parquet(zdest).count() == n

    # the key itself is a pure projection (no UDF, no shuffle in the expr)
    plan_df = df.select(zorder_key(["x", "y"], bits=6).alias("z"))
    assert "Python" not in plan_df._jdf.queryExecution().executedPlan().toString()


def test_optimistic_upsert_threaded_stress_loses_nothing(spark, tmp_path):
    """Real-concurrency smoke of the whole commit protocol: 3 writer
    threads x 3 upserts each against one table, every row distinct.  After
    the dust settles, the latest snapshot must contain ALL 9 rows (no lost
    updates), the committed chain must be readable, and no temp debris may
    remain in _versions."""
    import os
    import threading

    from etl_scripts_spark.sinks import commit as commitmod

    root = str(tmp_path / "stress")
    errors = []

    def writer(wid):
        try:
            for i in range(3):
                up = spark.createDataFrame(
                    [(f"W{wid}-{i}", f"writer{wid}")], "code string, src string"
                )
                commitmod.optimistic_upsert(spark, root, up, ["code"], max_retries=20)
        except Exception as exc:  # noqa: BLE001 — collected for the assert
            errors.append((wid, repr(exc)))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    final = {r.code for r in commitmod.read_version(spark, root).collect()}
    assert final == {f"W{w}-{i}" for w in range(3) for i in range(3)}
    leftovers = [
        f for f in os.listdir(os.path.join(root, "_versions")) if f.startswith(".")
    ]
    assert leftovers == []
    # committed chain sane: readable latest, versions within claim bound
    assert 1 <= commitmod.latest_committed_version(root) <= commitmod.table_version(root)


def test_vacuum_retention_gc(spark, tmp_path):
    """VACUUM law: newest `keep` snapshots untouched (latest still reads
    correctly), older manifests + data dirs removed, unreferenced orphan
    dirs (aborted/withdrawn writers) grace-gated — kept while young,
    removed once past the grace."""
    import os

    from etl_scripts_spark.sinks.commit import (
        latest_committed_version,
        optimistic_upsert,
        read_version,
        vacuum,
    )

    root = str(tmp_path / "t")
    for i in range(4):
        up = spark.createDataFrame([(f"S{i}", f"w{i}")], "code string, src string")
        optimistic_upsert(spark, root, up, ["code"])
    # an orphan dir no manifest references (a withdrawn commit's leftover)
    orphan = os.path.join(root, "data", "v9-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.txt"), "w") as fh:
        fh.write("x")

    out = vacuum(root, keep=2, grace_seconds=3600.0)
    assert out["retained_versions"] == [3, 4]
    assert out["removed_manifests"] == [1, 2]
    # young orphan survives the grace
    assert os.path.isdir(orphan)
    assert latest_committed_version(root) == 4
    assert sorted(
        (r["code"], r["src"]) for r in read_version(spark, root, 4).collect()
    ) == [("S0", "w0"), ("S1", "w1"), ("S2", "w2"), ("S3", "w3")]

    out2 = vacuum(root, keep=2, grace_seconds=0.0)
    assert not os.path.isdir(orphan)  # aged past grace -> collected
    assert os.path.normpath(orphan) in out2["removed_dirs"]
    # idempotent from here
    out3 = vacuum(root, keep=2, grace_seconds=0.0)
    assert out3["removed_manifests"] == [] and out3["removed_dirs"] == []
    # a later writer continues the chain normally after GC
    up = spark.createDataFrame([("S9", "w9")], "code string, src string")
    assert optimistic_upsert(spark, root, up, ["code"]) == 5


def test_vacuum_never_deletes_data_aliased_by_retained_manifest(spark, tmp_path):
    """Nothing in try_publish_version forbids two manifests sharing a data
    path; when an EVICTED manifest aliases a RETAINED one's data dir, the
    eviction must skip the rmtree — deleting it would take the live
    snapshot down with it."""
    import json as _json
    import os

    from etl_scripts_spark.sinks.commit import (
        optimistic_upsert,
        read_version,
        try_publish_version,
        vacuum,
    )

    root = str(tmp_path / "t")
    for i in range(3):
        up = spark.createDataFrame([(f"S{i}", f"w{i}")], "code string, src string")
        optimistic_upsert(spark, root, up, ["code"])
    with open(os.path.join(root, "_versions", "v3.json")) as fh:
        data3 = _json.load(fh)["data"]
    # v4 aliases v3's data dir; keep=1 retains only v4, so the evicted v3
    # points at the dir the retained manifest still needs
    assert try_publish_version(root, 4, data3, base=3)
    out = vacuum(root, keep=1, grace_seconds=3600.0)
    assert out["retained_versions"] == [4] and 3 in out["removed_manifests"]
    assert os.path.isdir(data3)
    assert os.path.normpath(data3) not in out["removed_dirs"]
    assert sorted(
        (r["code"], r["src"]) for r in read_version(spark, root, 4).collect()
    ) == [("S0", "w0"), ("S1", "w1"), ("S2", "w2")]


def test_weighted_bernoulli_sample_exact_law_and_proportionality(spark):
    """Membership equals a Python-bigint reference of the integer law;
    probability-1 weights always keep; NULL weights drop; realized rates
    track weight proportionally; DuckDB recomputes the set exactly."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from etl_scripts_spark.operators.sampling import weighted_bernoulli_sample

    rows = [(i, [1, 2, 4, None, 100][i % 5]) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    num, den = 1, 10  # p = w/10, so w=100 -> always kept
    got = sorted(
        r["doc_id"]
        for r in weighted_bernoulli_sample(df, "w", num, den).collect()
    )

    def u48(i):
        return int(hashlib.md5(f"wbs-v1|{i}".encode()).hexdigest()[:12], 16)

    want = [
        i
        for i, w in rows
        if w is not None and u48(i) * den < w * num * (1 << 48)
    ]
    assert got == want
    # every weight-100 row (p=10) kept; NULL weights all dropped
    assert all(i in got for i, w in rows if w == 100)
    assert all(i not in got for i, w in rows if w is None)
    # proportionality: rate(w=2) ~ 2x rate(w=1) on the uniform hash
    n1 = sum(1 for i in got if rows[i][1] == 1)
    n2 = sum(1 for i in got if rows[i][1] == 2)
    assert 1.3 < n2 / max(n1, 1) < 2.9

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, w BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    oracle = [
        r[0]
        for r in con.execute(
            f"""
            SELECT doc_id FROM t
            WHERE w IS NOT NULL
              AND ('0x' || substr(md5('wbs-v1|' || doc_id), 1, 12))::BIGINT
                  * {den}::HUGEINT
                  < w::HUGEINT * {num * (1 << 48)}::HUGEINT
            ORDER BY doc_id
            """
        ).fetchall()
    ]
    assert got == oracle


def test_weighted_bernoulli_sample_overflow_raises_loudly(spark):
    """A weight whose scaled product would overflow DECIMAL(38,0) must
    raise, not silently drop the heaviest (probability-1) rows."""
    import pytest as _pt

    from pyspark.sql import functions as F

    from etl_scripts_spark.operators.sampling import weighted_bernoulli_sample

    df = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.expr("CAST('99999999999999999999999999' AS DECIMAL(38,0))").alias("w"),
    )
    with _pt.raises(Exception, match="overflows"):
        weighted_bernoulli_sample(df, "w", 1, 10).collect()
