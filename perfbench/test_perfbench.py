"""Tests of the benchmark itself: seeded generators, the query sample,
and the output checks (a tampered expectation must count as a failure).

    python3 -m pytest perfbench -q

The two end-to-end tamper tests start Spark and take about a minute each.
"""

from __future__ import annotations

import csv
import filecmp
import json
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))

from gen_pco import CSV_HEADER, RESOURCES, write_pco  # noqa: E402
from gen_tables import make_tables  # noqa: E402
from workloads import (  # noqa: E402
    HEAVY,
    REF_QUERIES,
    STREAM_JOBS,
    PcoPipeline,
    StreamReplay,
    compare_results,
    stratified_sample,
    write_replay,
)


def _tree_equal(a: Path, b: Path) -> bool:
    files_a = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    files_b = sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file())
    return files_a == files_b and all(
        filecmp.cmp(a / f, b / f, shallow=False) for f in files_a
    )


def test_pco_same_seed_gives_identical_bytes(tmp_path):
    write_pco(tmp_path / "a", seed=7, n_people=600, per_page=100)
    write_pco(tmp_path / "b", seed=7, n_people=600, per_page=100)
    assert _tree_equal(tmp_path / "a", tmp_path / "b")


def test_pco_other_seed_gives_other_data_of_same_shape(tmp_path):
    a = write_pco(tmp_path / "a", seed=7, n_people=600, per_page=100)["truth"]
    b = write_pco(tmp_path / "b", seed=8, n_people=600, per_page=100)["truth"]
    assert not _tree_equal(tmp_path / "a", tmp_path / "b")
    assert set(a) == set(b)
    assert a["records"]["people"] == b["records"]["people"] == 600
    for res in RESOURCES:
        assert (tmp_path / "b" / res / "page-0000.json").is_file()


@pytest.mark.parametrize("seed", range(6))
def test_pco_plants_every_quirk(tmp_path, seed):
    gen = write_pco(tmp_path, seed=seed, n_people=800, per_page=200)
    t = gen["truth"]
    assert t["hub_share"] > 0.3
    assert t["people_no_birthdate"] > 0
    assert t["people_leap_day"] > 0
    assert t["people_grade_0"] > 0
    assert t["people_no_primary_email"] > 0
    assert t["people_no_primary_phone"] > 0
    assert t["mismatched"] and t["missing"] and t["unmapped_youth"]
    assert set(t["invalid_lists"]) == set(t["mismatched"]) | set(t["missing"])
    for name in t["mismatched"]:
        assert gen["expected_counts"][name] != len(
            [r for r in gen["resources"]["list_results"]
             if r["relationships"]["list"]["data"]["id"] == _list_id(gen, name)]
        )
    for name in t["missing"]:
        assert name not in gen["expected_counts"]
    for name in t["unmapped_youth"]:
        assert name not in gen["csv_fmt"]
    pages = json.loads((tmp_path / "people" / "page-0000.json").read_text())
    assert pages["meta"]["total_count"] == 800


def _list_id(gen, name):
    return next(
        lst["id"] for lst in gen["resources"]["lists"] if lst["attributes"]["name"] == name
    )


def test_tables_are_seeded():
    a, b, c = make_tables(3, 0.001), make_tables(3, 0.001), make_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].schema.equals(c["lineitem"].schema)
    assert a["events"].column("ts").to_pylist() == sorted(a["events"].column("ts").to_pylist())


def test_catalog_sample_is_seed_drawn_and_stratified():
    pool = [f"fam{i % 7}_q{i}" for i in range(140)] + REF_QUERIES
    s1 = stratified_sample(pool, 20, 1, REF_QUERIES)
    assert s1 == stratified_sample(pool, 20, 1, REF_QUERIES)
    assert s1 != stratified_sample(pool, 20, 2, REF_QUERIES)
    assert len(s1) == len(set(s1)) == 20
    assert set(REF_QUERIES) <= set(s1)
    fams = [n.split("_")[0] for n in s1 if n not in REF_QUERIES]
    assert sorted(set(fams)) == [f"fam{i}" for i in range(7)]
    assert not set(HEAVY) & set(s1)


def test_compare_results_catches_a_tampered_hash():
    got = pd.DataFrame({"k": [2, 1], "v": ["b", "a"]})
    want = pd.DataFrame({"v": ["a", "b"], "k": [1, 2]})
    assert compare_results(got, want) is None
    assert "hash" in compare_results(got, want, tamper=True)
    assert compare_results(got, want.iloc[:1]) is not None


def _fake_pco_output(wl: PcoPipeline, root: Path) -> None:
    """What a correct pipeline run leaves behind, built from the truth."""
    t = wl.truth
    for csv_name, n in t["csv_rows"].items():
        d = root / f"csv_name={csv_name}"
        d.mkdir(parents=True)
        with open(d / "part-00000.csv", "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(CSV_HEADER)
            w.writerows([[f"n{i}", "", "", "", ""] for i in range(n)])
    validate = [
        {"list_name": name, "valid": name not in t["invalid_lists"]} for name in t["youth_lists"]
    ]
    wl.last = {"dir": root, "validate": validate}


def test_pco_check_passes_truth_and_fails_a_tampered_count(tmp_path):
    wl = PcoPipeline(seed=3, work=tmp_path)
    wl.people = 500
    wl.generate()
    _fake_pco_output(wl, tmp_path / "out")
    assert wl.check(None) == (4, [])
    n, fails = wl.check(None, tamper=True)
    assert n == 4 and len(fails) == 1 and "rows per csv_name" in fails[0]
    wl.last["validate"][0]["valid"] = not wl.last["validate"][0]["valid"]
    assert any("invalid lists" in f for f in wl.check(None)[1])


def test_stream_check_passes_expected_and_fails_a_tampered_count(tmp_path):
    wl = StreamReplay(seed=3, work=tmp_path)
    wl.generate()
    st = wl.stream
    st.results = [
        {"job": job, "rows_out": st.expected[job],
         "rows_in": st.n_rows * (2 if job == "interval_join_clicks_purchases" else 1),
         "max_state_rows": st.n_users, "final_state_rows": 10}
        for job in STREAM_JOBS
    ]
    assert wl.check(None) == (12, [])
    assert len(wl.check(None, tamper=True)[1]) == 1
    st.results[1]["final_state_rows"] = st.n_rows
    assert any("state rows" in f for f in wl.check(None)[1])


def test_replay_chunks_are_time_ordered_and_read_oldest_first(tmp_path):
    events = make_tables(5, 0.001)["events"]
    write_replay(events, tmp_path, 4)
    files = sorted(tmp_path.glob("*.parquet"), key=lambda f: f.stat().st_mtime)
    assert [f.name for f in files] == [f"chunk-{i:03d}.parquet" for i in range(4)]
    chunks = [pq.read_table(f).column("ts").to_pylist() for f in files]
    assert all(c == sorted(c) and c for c in chunks)
    assert all(a[-1] <= b[0] for a, b in zip(chunks, chunks[1:]))
    assert sum(map(len, chunks)) == events.num_rows


def test_busy_s_counts_overlapping_jobs_once():
    from run import busy_s

    assert busy_s([]) == 0.0
    assert busy_s([(0.0, 1.0), (2.0, 3.0)]) == 2.0
    # a job inside another, and one that starts before the other ends
    assert busy_s([(0.0, 2.0), (0.5, 1.0), (1.5, 3.0)]) == 3.0


@pytest.mark.parametrize("workload", ["pco_pipeline", "catalog_sf001"])
def test_tampered_expectation_makes_failed_frac_positive(workload):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0", "--tamper"],
        capture_output=True, text=True, timeout=300, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["failed"] > 0 and result["correct"] is False
    assert result["failed"] / result["attempted"] > 0
