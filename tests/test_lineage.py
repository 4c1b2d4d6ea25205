"""Checkpoint/resume + lineage manifests (north_rule; SURVEY.md §5 item 5)."""

import json
import os

import pytest

from tripsu_spark.crypto import Pseudonymizer
from tripsu_spark.plans import lineage
from tripsu_spark.plans.lineage import GraphTableWriter, read_for_index
from tripsu_spark.plans.oracle import BENCH_SECRET
from tripsu_spark.plans.pipeline import TRIPLE_COLS, default_rules
from tripsu_spark.plans.table_format import ParquetFormat
from tripsu_spark.schemas import TRANSCRIPT_SCHEMA
from tripsu_spark.sources.transcripts import synthetic_transcripts

TRANSCRIPT_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


@pytest.fixture()
def setup(spark, tmp_path):
    transcripts = synthetic_transcripts(spark, n_convs=24, turns_per_conv=4)
    hasher = Pseudonymizer.create("sha256", BENCH_SECRET)
    return transcripts, default_rules(), hasher, str(tmp_path / "graph")


@pytest.fixture()
def crash_after(monkeypatch):
    """``crash_after(k)``: the next run raises right after bucket k's
    manifest is written, as a job killed between two commits would;
    later runs are not affected."""

    def arm(bucket):
        write = lineage._atomic_write_json

        def crash(path, obj):
            write(path, obj)
            if os.path.basename(path) == f"bucket-{bucket}.json":
                monkeypatch.setattr(lineage, "_atomic_write_json", write)
                raise RuntimeError(f"injected failure after bucket {bucket}")

        monkeypatch.setattr(lineage, "_atomic_write_json", crash)

    return arm


def _dirty(spark, transcripts):
    bad = spark.createDataFrame(
        [
            (None, 0, "user", "null conv", None, None),
            ("conv-1", 1, None, "null role", None, None),
            ("conv-2", 2, "user", None, None, None),
        ],
        schema=TRANSCRIPT_DDL,
    )
    return transcripts.unionByName(bad)


class Spy(ParquetFormat):
    """ParquetFormat that records every call through the seam."""

    def __init__(self):
        self.calls = []

    def write(self, df, p, partition_by=None):
        self.calls.append(("write", p, tuple(partition_by or ())))
        super().write(df, p, partition_by)

    def read(self, s, p, schema=None):
        self.calls.append(("read", p))
        return super().read(s, p, schema)


def _manifest_rows(path, units):
    out = {}
    for b in units:
        with open(os.path.join(path, "_manifests", f"bucket-{b}.json")) as fh:
            m = json.load(fh)
        out[b] = (m["row_count"], m["checksum"], m["quarantined"])
    return out


# Inputs that leave some or every bucket without rows: a zero-row
# partitioned parquet write leaves no part file to infer a schema from.
EMPTY_BUCKET_INPUTS = {
    "empty-table-3-buckets": (lambda spark: spark.createDataFrame([], TRANSCRIPT_SCHEMA), 3),
    "two-convs-16-buckets": (
        lambda spark: synthetic_transcripts(spark, n_convs=2, turns_per_conv=3), 16
    ),
    "one-malformed-row-2-buckets": (
        lambda spark: spark.createDataFrame([(None, 0, "user", "x", None, None)], TRANSCRIPT_DDL),
        2,
    ),
}


@pytest.mark.parametrize("case", sorted(EMPTY_BUCKET_INPUTS))
def test_commits_inputs_with_empty_buckets(spark, setup, case):
    """Every unit commits, an empty one with row count and checksum 0,
    and the table reads back (latest and time-travel) with exactly the
    committed rows."""
    _, rules, hasher, path = setup
    make, n_buckets = EMPTY_BUCKET_INPUTS[case]
    writer = GraphTableWriter(path, n_buckets=n_buckets)
    metrics = writer.run(spark, make(spark), rules, hasher, snapshot_id="snap-e")
    assert writer.committed_buckets() == {*range(n_buckets), "derived"}
    manifests = _manifest_rows(path, writer.committed_buckets())
    empty = [b for b, (n, _, _) in manifests.items() if n == 0]
    assert empty and all(manifests[b][1] == 0 for b in empty)
    assert writer.read(spark).count() == metrics["total_rows"]
    assert writer.read(spark, as_of="snap-e").count() == metrics["total_rows"]


@pytest.mark.parametrize("fmt", ["parquet", "spy", "catalog"])
def test_empty_buckets_read_back_as_zero_rows(spark, setup, fmt):
    """An empty transcript table commits through every format, and the
    table reads back, latest and time-travel, as zero triple rows."""
    _, rules, hasher, path = setup
    table_format = {"parquet": ParquetFormat, "spy": Spy, "catalog": MockCatalogFormat}
    writer = GraphTableWriter(path, n_buckets=3, table_format=table_format[fmt]())
    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    metrics = writer.run(spark, empty, rules, hasher, snapshot_id="snap-0")
    assert metrics["total_rows"] == 0
    for frame in (writer.read(spark), writer.read(spark, as_of="snap-0")):
        assert frame.columns == TRIPLE_COLS and frame.count() == 0


def test_every_job_of_a_run_lands_in_the_callers_job_group(spark, setup):
    """Units commit on pool threads; each must carry the caller's job
    group (job cancellation and per-group metrics rely on it). Two
    marker jobs bracket the run: every job id between them is in the
    group."""
    transcripts, rules, hasher, path = setup
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def marker(group):
        sc.setJobGroup(group, group)
        sc.parallelize([1], 1).count()
        bus.waitUntilEmpty()
        (job,) = sc.statusTracker().getJobIdsForGroup(group)
        return job

    try:
        first = marker("before-run")
        sc.setJobGroup("writer-run", "writer-run")
        GraphTableWriter(path, n_buckets=4).run(spark, transcripts, rules, hasher)
        last = marker("after-run")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    in_group = set(sc.statusTracker().getJobIdsForGroup("writer-run"))
    assert last - first > 10
    assert in_group == set(range(first + 1, last))


def test_failed_unit_write_leaves_no_manifest_and_resumes(spark, setup):
    """A write that fails for bucket 1 of 4 leaves no bucket-1.json;
    the resume then commits the same manifests, totals and rows as a
    one-shot run."""
    transcripts, rules, hasher, path = setup

    class FailBucket1Once(ParquetFormat):
        armed = True

        def write(self, df, p, partition_by=None):
            if self.armed and p.endswith("bucket=1"):
                self.armed = False
                raise RuntimeError("injected write failure")
            super().write(df, p, partition_by)

    writer = GraphTableWriter(path, n_buckets=4, table_format=FailBucket1Once())
    with pytest.raises(RuntimeError, match="injected write failure"):
        writer.run(spark, transcripts, rules, hasher)
    assert not os.path.exists(os.path.join(path, "_manifests", "bucket-1.json"))
    resumed = writer.run(spark, transcripts, rules, hasher)
    assert "1" in resumed["buckets"]
    assert set(resumed["buckets"]) | set(map(str, resumed["skipped"])) == {
        "0", "1", "2", "3", "derived"
    }

    one_shot = GraphTableWriter(path + "-once", n_buckets=4)
    once = one_shot.run(spark, transcripts, rules, hasher)
    units = [0, 1, 2, 3, "derived"]
    assert _manifest_rows(path, units) == _manifest_rows(path + "-once", units)
    assert resumed["total_rows"] == once["total_rows"]
    assert resumed["total_quarantined"] == once["total_quarantined"]
    got = {tuple(r) for r in writer.read(spark).collect()}
    assert got == {tuple(r) for r in one_shot.read(spark).collect()}


def test_each_unit_read_back_is_one_job(spark, setup):
    """A unit's read-back (read with the written schema, then count and
    checksum) runs one Spark job: no schema-inference job, no separate
    aggregate and collect."""
    transcripts, rules, hasher, path = setup

    class GroupedReads(ParquetFormat):
        def read(self, s, p, schema=None):
            if "bucket=" in p:
                # pool thread: the group holds this thread's next jobs
                s.sparkContext.setJobGroup(f"read-back {p}", p)
            return super().read(s, p, schema)

    GraphTableWriter(path, n_buckets=2, table_format=GroupedReads()).run(
        spark, transcripts, rules, hasher
    )
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    for unit in (0, 1, "derived"):
        group = f"read-back {os.path.join(path, 'data', f'bucket={unit}')}"
        assert len(tracker.getJobIdsForGroup(group)) == 1, group


def test_full_run_writes_manifests_and_metrics(spark, setup):
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path, n_buckets=4)
    metrics = writer.run(spark, transcripts, rules, hasher, snapshot_id="snap-1")
    assert writer.committed_buckets() == {0, 1, 2, 3, "derived"}
    assert metrics["total_rows"] == writer.read(spark).count() > 0
    with open(os.path.join(path, "metrics.json")) as fh:
        on_disk = json.load(fh)
    assert on_disk["snapshot_id"] == "snap-1"
    for b in [0, 1, 2, 3, "derived"]:
        with open(os.path.join(path, "_manifests", f"bucket-{b}.json")) as fh:
            m = json.load(fh)
        assert m["row_count"] > 0 and "checksum" in m


def test_kill_and_resume_skips_committed_buckets(spark, setup, crash_after):
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path, n_buckets=4)
    crash_after(1)
    with pytest.raises(RuntimeError, match="injected failure"):
        writer.run(spark, transcripts, rules, hasher)
    done_before = writer.committed_buckets()
    assert done_before == {0, 1}

    # restart: only the remaining buckets (incl. derived) run
    metrics = writer.run(spark, transcripts, rules, hasher, snapshot_id="snap-2")
    assert set(metrics["skipped"]) == done_before
    assert set(metrics["buckets"].keys()) == {"2", "3", "derived"}
    assert writer.committed_buckets() == {0, 1, 2, 3, "derived"}

    # resumed result identical to a clean one-shot run
    clean = GraphTableWriter(path + "-clean", n_buckets=4)
    clean.run(spark, transcripts, rules, hasher)
    got = {tuple(r) for r in writer.read(spark).collect()}
    want = {tuple(r) for r in clean.read(spark).collect()}
    assert got == want


def test_resume_is_noop_when_complete(spark, setup):
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path, n_buckets=2)
    m1 = writer.run(spark, transcripts, rules, hasher)
    m2 = writer.run(spark, transcripts, rules, hasher)
    assert m2["buckets"] == {}
    assert m2["total_rows"] == m1["total_rows"]


def test_bucket_count_invariance(spark, setup):
    """The committed graph (set AND multiset size) must not depend on
    n_buckets — derived triples are global facts, emitted once."""
    transcripts, rules, hasher, path = setup
    m2 = GraphTableWriter(path + "-b2", n_buckets=2).run(spark, transcripts, rules, hasher)
    m5 = GraphTableWriter(path + "-b5", n_buckets=5).run(spark, transcripts, rules, hasher)
    assert m2["total_rows"] == m5["total_rows"]
    a = {tuple(r) for r in GraphTableWriter(path + "-b2").read(spark).collect()}
    b = {tuple(r) for r in GraphTableWriter(path + "-b5").read(spark).collect()}
    assert a == b


def test_quarantine_counts_in_manifests(spark, setup):
    """Malformed transcript rows (null conv_id/turn_idx/role/text) are
    quarantined per bucket, counted in the bucket manifests and
    metrics.json, and excluded from the committed graph (SURVEY §4:
    never silently dropped)."""
    transcripts, rules, hasher, path = setup
    dirty = _dirty(spark, transcripts)
    writer = GraphTableWriter(path, n_buckets=3)
    metrics = writer.run(spark, dirty, rules, hasher)
    assert metrics["total_quarantined"] == 3
    per_bucket = 0
    for b in [0, 1, 2]:
        with open(os.path.join(path, "_manifests", f"bucket-{b}.json")) as fh:
            per_bucket += json.load(fh)["quarantined"]
    assert per_bucket == 3
    # the quarantined rows are preserved on disk for audit
    q = spark.read.json(os.path.join(path, "_quarantine"))
    assert q.count() == 3
    # ... by ONE write for all buckets: one commit marker, at the top
    q_dir = os.path.join(path, "_quarantine")
    markers = [r for r, _, files in os.walk(q_dir) if "_SUCCESS" in files]
    assert markers == [q_dir]
    # and the committed graph matches a clean run over valid rows only
    clean = GraphTableWriter(path + "-clean", n_buckets=3)
    m_clean = clean.run(spark, transcripts, rules, hasher)
    assert m_clean["total_quarantined"] == 0
    assert metrics["total_rows"] == m_clean["total_rows"]
    got = {tuple(r) for r in writer.read(spark).collect()}
    want = {tuple(r) for r in clean.read(spark).collect()}
    assert got == want
    # resume metrics carry quarantine counts forward from manifests
    m_again = writer.run(spark, dirty, rules, hasher)
    assert m_again["total_quarantined"] == 3


def test_quarantine_survives_crash_and_resume(spark, setup, crash_after):
    """Dirty input, a crash after bucket 0, then a resume: every bucket
    manifest and the total carry the same quarantine counts as a
    one-shot run, and the resume leaves _quarantine untouched."""
    transcripts, rules, hasher, path = setup
    dirty = _dirty(spark, transcripts)
    q_dir = os.path.join(path, "_quarantine")

    def q_files():
        return {
            os.path.join(r, f): os.stat(os.path.join(r, f)).st_mtime_ns
            for r, _, files in os.walk(q_dir) for f in files
        }

    writer = GraphTableWriter(path, n_buckets=3)
    crash_after(0)
    with pytest.raises(RuntimeError, match="injected failure"):
        writer.run(spark, dirty, rules, hasher)
    before = q_files()
    assert before
    resumed = writer.run(spark, dirty, rules, hasher)
    assert q_files() == before

    one_shot = GraphTableWriter(path + "-once", n_buckets=3).run(spark, dirty, rules, hasher)
    assert resumed["total_quarantined"] == one_shot["total_quarantined"] == 3
    for b in ["0", "1", "2", "derived"]:
        with open(os.path.join(path, "_manifests", f"bucket-{b}.json")) as fh:
            assert json.load(fh)["quarantined"] == one_shot["buckets"][b]["quarantined"]


def _committed_state(writer):
    """Every manifest file of a table (by name), and its version-1 snapshots."""
    manifests = {}
    for name in sorted(os.listdir(writer.manifest_dir)):
        with open(os.path.join(writer.manifest_dir, name)) as fh:
            manifests[name] = json.load(fh)
    return manifests, [s for s in writer.snapshots() if s["version"] == 1]


@pytest.fixture(scope="module")
def dirty_one_shot(spark, tmp_path_factory):
    """A one-shot run over the dirty fixture at 3 buckets: its metrics
    and committed state."""
    transcripts = synthetic_transcripts(spark, n_convs=24, turns_per_conv=4)
    writer = GraphTableWriter(str(tmp_path_factory.mktemp("one-shot") / "graph"), n_buckets=3)
    metrics = writer.run(
        spark, _dirty(spark, transcripts), default_rules(),
        Pseudonymizer.create("sha256", BENCH_SECRET), snapshot_id="snap-c",
    )
    return metrics, _committed_state(writer)


# A run's writes, in commit order. The failure is injected right after
# each one lands: the data or JSON file is on disk and the run dies.
WRITE_POINTS = [
    "index data", "type_index.json", "quarantine data", "quarantine.json",
    "bucket=1 data", "bucket-1.json", "metrics.json", "snapshot",
]


@pytest.mark.parametrize("point", WRITE_POINTS)
def test_resume_after_a_failure_at_each_write_point(spark, setup, monkeypatch, point,
                                                    dirty_one_shot):
    """Whichever write the run dies after, the resume leaves the
    manifests, totals and snapshot of a one-shot run, and one snapshot."""
    transcripts, rules, hasher, path = setup
    dirty = _dirty(spark, transcripts)
    fired = []

    def after(what):
        if what == point and not fired:
            fired.append(what)
            raise RuntimeError(f"injected failure after {what}")

    class FailingFormat(ParquetFormat):
        def write(self, df, p, partition_by=None):
            super().write(df, p, partition_by)
            after("index data" if "type_index" in p else f"{os.path.basename(p)} data")

    write_json = lineage._atomic_write_json

    def json_then_fail(p, obj):
        write_json(p, obj)
        in_snapshots = os.path.basename(os.path.dirname(p)) == "_snapshots"
        after("snapshot" if in_snapshots else os.path.basename(p))

    write_quarantine = GraphTableWriter._write_quarantine

    def quarantine_then_fail(self, bucketed):
        counts = write_quarantine(self, bucketed)
        after("quarantine data")
        return counts

    monkeypatch.setattr(lineage, "_atomic_write_json", json_then_fail)
    monkeypatch.setattr(GraphTableWriter, "_write_quarantine", quarantine_then_fail)
    writer = GraphTableWriter(path, n_buckets=3, table_format=FailingFormat())
    with pytest.raises(RuntimeError, match="injected failure"):
        writer.run(spark, dirty, rules, hasher, snapshot_id="snap-c")
    assert fired == [point]
    resumed = writer.run(spark, dirty, rules, hasher, snapshot_id="snap-c")

    once, (manifests, snapshots) = dirty_one_shot
    assert resumed["total_rows"] == once["total_rows"]
    assert resumed["total_quarantined"] == once["total_quarantined"] == 3
    got_manifests, got_snapshots = _committed_state(writer)
    assert got_manifests == manifests
    assert len(got_snapshots) == 1
    assert got_snapshots[0]["buckets"] == snapshots[0]["buckets"]


def test_snapshot_time_travel_and_schema_evolution(spark, setup):
    """Iceberg-style snapshot log: a second run with overwrite=True
    commits a NEW snapshot (here also changing the PHYSICAL schema to
    prefix-compacted storage); read() serves the latest, read(as_of=)
    time-travels to the first, both as the same LOGICAL schema."""
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path, n_buckets=2)
    writer.run(spark, transcripts, rules, hasher, snapshot_id="snap-A")
    first = {tuple(r) for r in writer.read(spark).collect()}

    # second table version: different input AND compact physical layout
    t2 = synthetic_transcripts(spark, n_convs=9, turns_per_conv=5)
    writer.run(
        spark, t2, rules, hasher, snapshot_id="snap-B",
        overwrite=True, store_compact=True,
    )
    snaps = writer.snapshots()
    assert [s["snapshot_id"] for s in snaps] == ["snap-A", "snap-B"]
    assert snaps[0]["schema"] != snaps[1]["schema"]  # physical evolution

    # latest read == a plain-storage run of the same input (logical
    # frame identical despite the compact physical layout) ...
    plain = GraphTableWriter(path + "-plain", n_buckets=2)
    plain_metrics = plain.run(spark, t2, rules, hasher)
    latest = writer.read(spark)
    assert {tuple(r) for r in latest.collect()} == {
        tuple(r) for r in plain.read(spark).collect()
    }
    # ... same logical columns across snapshots ...
    assert latest.columns == writer.read(spark, as_of="snap-A").columns
    # ... and per-bucket checksums are storage-format-invariant
    for b, m in plain_metrics["buckets"].items():
        assert snaps[1]["buckets"][b]["checksum"] == m["checksum"]

    # time travel returns the first snapshot exactly
    assert {tuple(r) for r in writer.read(spark, as_of="snap-A").collect()} == first

    with pytest.raises(ValueError, match="unknown snapshot"):
        writer.read(spark, as_of="nope")


def test_read_for_index_prunes_partitions(spark, setup):
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path, n_buckets=2)
    writer.run(spark, transcripts, rules, hasher)
    data = os.path.join(path, "data")
    df = read_for_index(spark, data)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pred_part" in plan
    # every row really is rdf:type
    preds = {r["predicate"] for r in df.select("predicate").distinct().collect()}
    assert preds == {"http://www.w3.org/1999/02/22-rdf-syntax-ns#type"}


def test_snapshot_level2_dictionary_storage(spark, setup):
    """store_compact=2 (dictionary-coded tinyints) is a third physical
    layout behind the same logical table: read() restores the identical
    frame and checksums stay storage-format-invariant."""
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path + "-l2", n_buckets=2)
    m2 = writer.run(
        spark, transcripts, rules, hasher, snapshot_id="snap-L2", store_compact=2
    )
    plain = GraphTableWriter(path + "-l2-plain", n_buckets=2)
    m0 = plain.run(spark, transcripts, rules, hasher)
    assert {tuple(r) for r in writer.read(spark).collect()} == {
        tuple(r) for r in plain.read(spark).collect()
    }
    for b, m in m0["buckets"].items():
        assert m2["buckets"][b]["checksum"] == m["checksum"]
    # the stored physical schema really is the dict-coded one
    import pyspark.sql.functions as F  # noqa: N812

    raw = spark.read.parquet(os.path.join(path + "-l2", "data"))
    assert "s_kc" in raw.columns and "p_code" in raw.columns
    assert raw.filter(F.col("p_code") == 0).count() == 0


def test_resume_refuses_storage_level_mismatch(spark, setup, crash_after):
    """An interrupted run resumed with a different --store-compact must
    refuse instead of writing mixed physical schemas into one version."""
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path + "-mix", n_buckets=3)
    crash_after(0)
    with pytest.raises(RuntimeError):
        writer.run(spark, transcripts, rules, hasher, store_compact=2)
    with pytest.raises(ValueError, match="storage-level mismatch"):
        writer.run(spark, transcripts, rules, hasher)  # default level 0
    # resuming at the committed level completes cleanly
    metrics = writer.run(spark, transcripts, rules, hasher, store_compact=2)
    assert metrics["skipped"] == [0]


def test_resume_legacy_manifest_infers_level_from_schema(spark, setup, crash_after):
    """Manifests committed before storage_level existed lack the key;
    resume must infer the true level from the committed bucket's
    parquet schema, not assume 0 (which would refuse the correct
    resume and steer toward mixed-schema corruption)."""
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path + "-legacy", n_buckets=3)
    crash_after(0)
    with pytest.raises(RuntimeError):
        writer.run(spark, transcripts, rules, hasher, store_compact=2)
    # simulate a legacy manifest: drop the storage_level key
    mpath = os.path.join(path + "-legacy", "_manifests", "bucket-0.json")
    with open(mpath) as fh:
        m = json.load(fh)
    del m["storage_level"]
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    # level-0 resume still refused (schema sniff says level 2) ...
    with pytest.raises(ValueError, match="storage-level mismatch"):
        writer.run(spark, transcripts, rules, hasher)
    # ... and the TRUE-level resume is accepted, not refused
    metrics = writer.run(spark, transcripts, rules, hasher, store_compact=2)
    assert metrics["skipped"] == [0]


def test_table_format_seam(spark, setup):
    """The physical-format seam: a custom TableFormat sees every table
    read/write; the Iceberg adapter satisfies the interface and
    fail-fasts with the swap recipe when the runtime is absent."""
    from tripsu_spark.plans.table_format import IcebergFormat, TableFormat

    transcripts, rules, hasher, path = setup

    spy = Spy()
    writer = GraphTableWriter(path + "-fmt", n_buckets=2, table_format=spy)
    writer.run(spark, transcripts, rules, hasher)
    writes = [c for c in spy.calls if c[0] == "write"]
    # index + 2 buckets + derived, all through the seam
    assert len(writes) == 4
    assert all(c[2] == ("pred_part",) for c in writes if "bucket=" in c[1])
    assert writer.read(spark).count() > 0

    # Iceberg adapter: interface-complete, correct identifier mapping,
    # fail-fast with the documented recipe when no catalog is configured
    ice = IcebergFormat(catalog="kg")
    assert isinstance(ice, TableFormat)
    ids = {
        ice.table_identifier(p)
        for p in (
            "/data/graph/data/bucket=3",     # version 1
            "/data/graph/data/v2/bucket=3",  # version 2: same leaf!
            "/other/graph/data/bucket=3",    # different pipeline output
        )
    }
    # distinct paths -> distinct tables (leaf-only mapping would
    # createOrReplace one table from all three, destroying versions)
    assert len(ids) == 3
    assert all(i.startswith("kg.graph.bucket_3_") for i in ids)
    # stable across calls
    assert ice.table_identifier("/data/graph/data/bucket=3") in ids
    import pytest as _pytest

    df = spark.range(1)
    with _pytest.raises(RuntimeError, match="spark-submit"):
        ice.write(df, "/tmp/x")
    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        ice.read(spark, "/tmp/x")


class MockCatalogFormat:
    """Catalog-semantics TableFormat test double (round-4 verdict item
    6): tables live in an in-memory dict keyed by IcebergFormat's OWN
    path->identifier mapping, writes are createOrReplace (replace the
    table, like ``df.writeTo(...).createOrReplace()``), reads are
    catalog lookups, and read_union unions per-bucket TABLES — there is
    no '<base>/data' umbrella directory to fall back on. This drives
    the writer's full bucket lifecycle (write -> read -> resume ->
    overwrite -> time-travel) through a non-parquet format, which is
    exactly the path IcebergFormat takes on a real cluster."""

    def __init__(self):
        from tripsu_spark.plans.table_format import IcebergFormat

        self._ident = IcebergFormat(catalog="mock").table_identifier
        self.tables = {}          # identifier -> (rows, schema)
        self.write_log = []       # identifiers, in commit order
        self.partitioning = {}    # identifier -> tuple(partition_by)

    def write(self, df, path, partition_by=None):
        ident = self._ident(path)
        self.tables[ident] = (df.collect(), df.schema)
        self.write_log.append(ident)
        self.partitioning[ident] = tuple(partition_by or ())

    def read(self, spark, path, schema=None):
        ident = self._ident(path)
        if ident not in self.tables:
            raise RuntimeError(f"mock catalog: no such table {ident}")
        rows, schema = self.tables[ident]
        return spark.createDataFrame(rows, schema)

    def read_union(self, spark, paths, base_path, schema=None):
        from tripsu_spark.plans.table_format import _require_paths

        _require_paths(paths, base_path)
        out = None
        for p in paths:
            df = self.read(spark, p)
            out = df if out is None else out.unionByName(df)
        return out


def test_mock_catalog_full_lifecycle(spark, setup, crash_after):
    """GraphTableWriter's whole lifecycle through catalog semantics:
    write -> read -> kill/resume (committed tables NOT rewritten) ->
    overwrite to a new version -> time-travel back — the contract
    IcebergFormat must satisfy, exercised end-to-end without the jar."""
    transcripts, rules, hasher, path = setup
    catalog = MockCatalogFormat()

    # -- write with an injected crash after bucket 0
    writer = GraphTableWriter(path + "-cat", n_buckets=3, table_format=catalog)
    crash_after(0)
    with pytest.raises(RuntimeError, match="injected failure"):
        writer.run(spark, transcripts, rules, hasher)
    # the committed tables are the index and the manifest-vouched
    # buckets; units in flight at the crash may have written data too,
    # but without a manifest they are not committed
    def ident(unit):
        return catalog._ident(os.path.join(writer.data_dir, f"bucket={unit}"))

    committed_idents = [catalog._ident(os.path.join(path + "-cat", "type_index"))]
    committed_idents += [ident(b) for b in writer.committed_buckets()]
    assert writer.committed_buckets() == {0}
    log_at_crash = list(catalog.write_log)
    # mid-run read: manifest-vouched bucket tables only, via read_union
    assert writer.read(spark).count() > 0

    # -- resume from a FRESH writer over the same catalog: committed
    # bucket tables must not be written again (manifests gate the skip)
    resumed = GraphTableWriter(path + "-cat", n_buckets=3, table_format=catalog)
    m = resumed.run(spark, transcripts, rules, hasher, snapshot_id="snap-a")
    assert set(m["buckets"].keys()) == {"1", "2", "derived"}
    for i in committed_idents:
        assert catalog.write_log.count(i) == 1
    # ... and every uncommitted bucket is written again, once
    for unit in (1, 2, "derived"):
        assert catalog.write_log.count(ident(unit)) == log_at_crash.count(ident(unit)) + 1
    # bucket tables carry the partitioning metadata
    assert all(
        catalog.partitioning[i] == ("pred_part",)
        for i in catalog.write_log if "bucket_" in i
    )

    # -- result identical to a clean parquet-format run
    clean = GraphTableWriter(path + "-cat-clean", n_buckets=3)
    clean.run(spark, transcripts, rules, hasher)
    got = {tuple(r) for r in resumed.read(spark).collect()}
    want = {tuple(r) for r in clean.read(spark).collect()}
    assert got == want and got

    # -- overwrite starts version 2: NEW table identifiers (v2 paths),
    # version-1 tables untouched in the catalog
    v1_tables = dict(catalog.tables)
    m2 = resumed.run(
        spark, transcripts.limit(20), rules, hasher,
        snapshot_id="snap-b", overwrite=True,
    )
    assert m2["snapshot_id"] == "snap-b"
    assert all(catalog.tables[i] == v1_tables[i] for i in v1_tables)
    assert len(catalog.tables) > len(v1_tables)

    # -- time-travel: as_of the version-1 snapshot reads v1 tables
    back = {tuple(r) for r in resumed.read(spark, as_of="snap-a").collect()}
    assert back == want
    latest = resumed.read(spark)
    assert latest.count() < len(want)  # v2 was built from fewer rows

    # -- empty bucket set fails at the seam with the real reason
    with pytest.raises(ValueError, match="no bucket paths"):
        catalog.read_union(spark, [], path + "-cat")


def test_midrun_read_returns_committed_buckets_only(spark, setup, crash_after):
    """With no snapshot yet (mid-run after a crash), read() must return
    exactly the manifest-vouched buckets via the format seam — not
    whatever partial files are on disk, and not raise for formats that
    have no '<base>/data' umbrella table."""
    transcripts, rules, hasher, path = setup
    writer = GraphTableWriter(path + "-midrun", n_buckets=3)
    crash_after(1)
    with pytest.raises(RuntimeError, match="injected failure"):
        writer.run(spark, transcripts, rules, hasher)
    assert writer.snapshots() == []
    got = writer.read(spark).count()
    with open(os.path.join(path + "-midrun", "_manifests", "bucket-0.json")) as fh:
        n0 = json.load(fh)["row_count"]
    with open(os.path.join(path + "-midrun", "_manifests", "bucket-1.json")) as fh:
        n1 = json.load(fh)["row_count"]
    assert got == n0 + n1
