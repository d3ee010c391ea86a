"""Bench output-contract pins (the BENCH_r07 "parsed": null class):
the driver tail-captures the final ~2000 chars of stdout, so the
compact headline MUST be the last line, parse as JSON on its own, and
carry the totals a truncated capture needs. Runs bench.py end-to-end
as a subprocess on a two-entry allowlist at sf0.001."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_prints_headline_last_and_payload_parses(tmp_path):
    out = tmp_path / "bench_out.json"
    # the run's own temp dir, to see that the event log is removed
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_BENCH_RUNS": "1",
        "SPARK_GRAFT_BENCH_ONLY": "bench_control,topk_orders",
        # never clobber the committed round artifact bench_last.json
        "SPARK_GRAFT_BENCH_OUT": str(out),
        "TMPDIR": str(tmp),
    }
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        cwd=str(tmp_path),  # defensive: with SPARK_GRAFT_BENCH_OUT set the
        # artifact lands at the redirected path; a tmp cwd just ensures an
        # accidental RELATIVE write could never touch the repo
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    lines = [ln for ln in res.stdout.strip().splitlines() if ln.strip()]
    assert len(lines) == 4, res.stdout
    first, payload_line, top_line, last = lines
    # the LAST line is the headline — it's what survives tail capture
    head = json.loads(last)
    assert head["metric"] == "catalog_total_runtime_headline"
    assert head == json.loads(first)  # human copy up top, identical
    assert head["n_queries"] == 2
    assert head["n_succeeded"] == 2
    assert head["failed_count"] == 0
    # a tail capture of the last 2000 chars must contain the whole
    # headline line — pin the size headroom explicitly
    assert len(last) < 1000
    payload = json.loads(payload_line)
    assert payload["metric"] == "catalog_total_runtime"
    assert set(payload["queries"]) == {"bench_control", "topk_orders"}
    assert payload["failed"] == []
    # a SPARK_GRAFT_BENCH_ONLY run must self-identify as partial in BOTH
    # records (round-8 ADVICE): a filtered artifact can never be mistaken
    # for a full-catalog run. The real per-round run never sets the env
    # var, so its records carry no "filtered" key at all.
    assert head["filtered"] is True
    assert payload["filtered"] is True
    assert abs(head["value"] - payload["value"]) < 1e-9
    # r13: a compact heaviest-entries record prints immediately before
    # the final headline, and record + headline together fit inside the
    # driver's ~2000-char tail capture — per-query seconds survive
    # truncation (VERDICT r12 #2). It carries a DISTINCT metric name so
    # no consumer can mistake its partial queries map for the full
    # payload's.
    top = json.loads(top_line)
    assert top["metric"] == "catalog_heaviest_queries"
    assert top["filtered"] is True
    assert 1 <= top["top_n"] <= 40
    assert set(top["queries"]) <= set(payload["queries"])
    for name, sec in top["queries"].items():
        assert abs(sec - payload["queries"][name]) < 1e-9
    assert len(top_line) + len(last) + 2 <= 1900
    # the full payload persists to the (redirected) artifact path
    with open(out) as f:
        disk = json.load(f)
    assert disk["queries"] == payload["queries"]
    # per-entry layers from the same run's event log, in the payload and
    # the artifact only: the tail records stay inside the 1900 chars
    assert set(payload["layers"]) == {"bench_control", "topk_orders"}
    for layers in payload["layers"].values():
        assert set(layers) == {"jobs", "stages", "driver_s", "task_cpu_s", "shuffle_mb"}
        assert layers["jobs"] >= 1 and 0 <= layers["driver_s"]
    assert disk["layers"] == payload["layers"]
    assert "layers" not in top and "layers" not in head
    prov = payload["provenance"]
    assert disk["provenance"] == prov
    assert {"git_sha", "git_dirty", "nproc", "spark_graft_cpus"} <= set(prov)
    assert prov["runs_per_entry"] == 1
    # the event log's temp dir is gone once the run exits
    assert not [p for p in os.listdir(tmp) if p.startswith("bench-events-")]


def test_bench_recheck_stamps_artifact(tmp_path):
    """`bench.py --recheck` (round-10 VERDICT "what's wrong" #2): the
    manual bench-noise protocol made mechanical. A flagged entry is
    re-run min-of-N in an idle session and the verdict is STAMPED into
    the existing artifact — flagged reading preserved, queries/value
    updated to the isolated minimum — so clean-window adjudication is
    reproducible from the artifact alone."""
    out = tmp_path / "bench_out.json"
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_BENCH_RUNS": "1",
        "SPARK_GRAFT_BENCH_ONLY": "bench_control,topk_orders",
        "SPARK_GRAFT_BENCH_OUT": str(out),
    }
    # 1) produce an artifact, then inflate one reading to simulate a
    # co-tenant noise spike the recheck must adjudicate
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    with open(out) as f:
        artifact = json.load(f)
    true_reading = artifact["queries"]["topk_orders"]
    artifact["queries"]["topk_orders"] = 99.9
    with open(out, "w") as f:
        json.dump(artifact, f)

    # 2) recheck the flagged entry (min-of-2 to keep the test fast but
    # still exercise the multi-run minimum)
    env2 = {**env, "SPARK_GRAFT_BENCH_RUNS": "2"}
    env2.pop("SPARK_GRAFT_BENCH_ONLY")
    res2 = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--recheck", "topk_orders"],
        env=env2, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert res2.returncode == 0, res2.stderr[-2000:]
    lines = [ln for ln in res2.stdout.strip().splitlines() if ln.strip()]
    summary = json.loads(lines[-1])
    assert summary["metric"] == "catalog_recheck"
    assert summary["runs_per_query"] == 2
    stamp = summary["recheck"]["topk_orders"]
    assert stamp["flagged_sec"] == 99.9
    assert len(stamp["runs_sec"]) == 2
    assert stamp["min_sec"] == min(stamp["runs_sec"])
    assert stamp["min_sec"] < 99.9  # the spike is adjudicated as noise
    assert 0 < stamp["ratio_vs_flagged"] < 1

    # 3) the artifact itself carries the stamp and the updated totals
    with open(out) as f:
        disk = json.load(f)
    assert disk["recheck"]["topk_orders"] == stamp
    assert disk["queries"]["topk_orders"] == stamp["min_sec"]
    assert abs(
        disk["value"] - sum(v for v in disk["queries"].values() if v is not None)
    ) < 1e-6
    # sanity: the recheck reading is in the same regime as the honest one
    assert stamp["min_sec"] < max(true_reading * 20, 30)

    # 4) guard rails: a recheck at a different SF is refused
    env3 = {**env2, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.01"}
    res3 = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--recheck", "topk_orders"],
        env=env3, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert res3.returncode == 2
    assert "refused" in res3.stderr

    # 5) a recheck run that FAILS must not be silently skipped
    # (round-11 ADVICE): point the session at an empty same-sf dir so
    # the entry's table load breaks — the stamp must say failed, the
    # summary must list it, and the exit code must be non-zero so a
    # regression between bench and recheck can't read as adjudicated
    # noise. The flagged reading must survive untouched in queries.
    broken_sf = tmp_path / "sf0.001"
    broken_sf.mkdir()
    with open(out) as f:
        pre_fail = json.load(f)
    env4 = {**env2, "SPARK_GRAFT_SF_DIR": str(broken_sf)}
    res4 = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--recheck", "topk_orders"],
        env=env4, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert res4.returncode == 1, res4.stderr[-2000:]
    lines4 = [ln for ln in res4.stdout.strip().splitlines() if ln.strip()]
    summary4 = json.loads(lines4[-1])
    assert summary4["failed"] == ["topk_orders"]
    assert summary4["recheck"]["topk_orders"]["failed"] is True
    with open(out) as f:
        disk4 = json.load(f)
    assert disk4["recheck"]["topk_orders"]["failed"] is True
    assert disk4["queries"]["topk_orders"] == pre_fail["queries"]["topk_orders"]
