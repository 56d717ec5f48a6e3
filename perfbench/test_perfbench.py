"""Self-tests of the benchmark: the generator is deterministic, the output
checks catch planted corruption, the registry sample is stable.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

from icnarc_to_philips_linkage_spark.session import get_spark
from perfbench import curation, gen_curation, registry
from perfbench.trace import Tracer

STAYS, EVENTS = 300, 6_000


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="perfbench-tests", shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.fixture(scope="module")
def export(spark, tmp_path_factory):
    """A tiny export, its planted truth and one checked curation run."""
    base = tmp_path_factory.mktemp("export")
    inp, out = str(base / "in"), str(base / "out")
    truth = gen_curation.generate(spark, inp, 11, STAYS, EVENTS)
    got = curation.run_curation(spark, inp, out, Tracer(spark, False))
    return inp, out, truth, got


def test_same_seed_same_truth(spark, export, tmp_path):
    inp, _, truth, _ = export
    again = gen_curation.generate(spark, str(tmp_path / "again"), 11, STAYS, EVENTS)
    assert again == truth
    for name in ("icnarc_ids.csv", "encounter_summary.rpt", "issue_encounterid.csv"):
        with open(os.path.join(inp, name)) as a, open(tmp_path / "again" / name) as b:
            assert a.read() == b.read(), name
    other = gen_curation.generate(spark, str(tmp_path / "other"), 12, STAYS, EVENTS)
    assert other["quirks"] != truth["quirks"]


def test_every_quirk_is_planted(export):
    _, _, truth, _ = export
    with open(os.path.join(export[0], "truth.json")) as f:
        assert json.load(f) == truth
    assert all(v > 0 for v in truth["quirks"].values()), truth["quirks"]
    assert truth["ep3"]["rows_filtered"] > 0
    assert "<null>" in truth["ep3"]["variable_counts"]


def test_clean_run_passes_checks(spark, export):
    _, out, truth, got = export
    assert curation.check_curation(spark, out, got, truth) == []


def _rewrite(spark, out: str, name: str, transform) -> None:
    path = os.path.join(out, name)
    df = transform(spark.read.parquet(path)).localCheckpoint()
    df.write.mode("overwrite").parquet(path)


def test_dropped_stay_is_detected(spark, export, tmp_path):
    _, out, truth, got = export
    corrupt = str(tmp_path / "out")
    for name in curation.SINKS:
        spark.read.parquet(os.path.join(out, name)).write.parquet(os.path.join(corrupt, name))
    first = spark.read.parquet(os.path.join(corrupt, "icustays")).first()["CIS Patient ID Original"]
    _rewrite(spark, corrupt, "icustays",
             lambda df: df.filter(df["`CIS Patient ID Original`"] != first))
    fails = curation.check_curation(spark, corrupt, got, truth)
    assert any(f.startswith("icustays.rows") for f in fails), fails


def test_duplicated_fragment_is_detected(spark, export, tmp_path):
    _, out, truth, got = export
    corrupt = str(tmp_path / "out")
    for name in curation.SINKS:
        spark.read.parquet(os.path.join(out, name)).write.parquet(os.path.join(corrupt, name))
    _rewrite(spark, corrupt, "philips_merged", lambda df: df.unionByName(df.limit(1)))
    fails = curation.check_curation(spark, corrupt, got, truth)
    assert any(f.startswith("philips_merged.los_conserved") for f in fails), fails


def test_wrong_report_is_detected(spark, export):
    _, out, truth, got = export
    bad = dict(got, philips=[dict(got["philips"][0], n_male=got["philips"][0]["n_male"] + 1)])
    fails = curation.check_curation(spark, out, bad, truth)
    assert fails == [next(f for f in fails if f.startswith("report.philips.counts"))]


def test_registry_sample_is_stratified_and_seeded():
    a, b = registry.sample(1, 20), registry.sample(2, 20)
    assert registry.sample(1, 20) == a
    assert a[:len(registry.TARGETS)] == b[:len(registry.TARGETS)] == list(registry.TARGETS)
    assert a != b and len(a) == len(b) == len(registry.TARGETS) + 20
    fams = lambda s: sorted(registry.family(n) for n in s if n not in registry.TARGETS)  # noqa: E731
    assert fams(a) == fams(b)


def test_registry_tables_are_complete():
    import pyarrow.parquet as pq

    from icnarc_to_philips_linkage_spark.plans.tables import TABLES

    wl = registry.Workload("", "", 1)
    for d in (wl.sf_dir, wl.warm_dir):
        assert sorted(f[:-len(".parquet")] for f in os.listdir(d)) == sorted(TABLES), d
    assert pq.read_metadata(os.path.join(wl.sf_dir, "lineitem.parquet")).num_rows == 60_000


def test_kill_descendants_reaps_orphans():
    """A grandchild orphaned by its parent's exit is re-parented to the
    benchmark (a child subreaper) and is stopped and reaped with the rest.
    Run in its own process so the test session's JVM is not touched."""
    import subprocess
    import sys

    code = (
        "import ctypes, os, subprocess, time\n"
        "from perfbench import run\n"
        "ctypes.CDLL(None).prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)\n"
        "subprocess.run(['sh', '-c', 'sleep 300 &'])\n"  # the shell exits at once
        "subprocess.Popen(['sleep', '300'])\n"
        "time.sleep(0.2)\n"
        "assert len(run._tree_stats()) == 3, run._tree_stats()\n"
        "run.kill_descendants()\n"
        "assert list(run._tree_stats()) == [os.getpid()], run._tree_stats()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True, timeout=60)
