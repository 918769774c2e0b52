"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gate  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import session  # noqa: E402
from anytomd_spark import transcripts as tx  # noqa: E402
from anytomd_spark.batch import convert_batch  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# --------------------------------------------------------------------------
# generator
# --------------------------------------------------------------------------

@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_same_seed_gives_identical_files(workload, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.write_table(workload, inputs.make_table(workload, 7), str(a))
    inputs.write_table(workload, inputs.make_table(workload, 7), str(b))
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and names
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert (mismatch, errors) == ([], [])


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_other_seed_gives_other_table(workload):
    a = inputs.make_table(workload, 7)
    b = inputs.make_table(workload, 8)
    assert len(a) == len(b)
    assert not a["text"].equals(b["text"])


def test_parallel_generation_matches_the_serial_generator():
    sizes = tx.conversation_sizes(1000, 3)
    cum = np.cumsum(sizes)
    ids = np.arange(cum[0], cum[0] + 300, dtype=np.int64)
    assert inputs.mixed_table(3, n_turns=300).equals(
        tx.generate_batch(ids, cum, 3))


def test_web_clustered_has_the_shapes_it_names():
    table = inputs.make_table("web_clustered", 7)
    props = inputs.properties("web_clustered", table)
    assert props["html_native_decline_frac"] > 0.5
    assert props["batch_repeat_frac"] > 0.05
    assert props["mega_conv_turn_frac"] > 0.2
    sizes = table["text"].str.len()
    assert (sizes > (1 << 20)).sum() == 2
    assert table["text"].str.contains("&#").any()
    files = [len(s) for s in inputs.file_slices("web_clustered", table)]
    assert max(files) > 3 * sorted(files)[len(files) // 2]


# --------------------------------------------------------------------------
# correctness gate
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def clean_pass():
    inp = inputs.mixed_table(3, n_turns=80)
    out = convert_batch(inp.copy())
    out["turn_seq"] = (
        out.sort_values(["conv_id", "turn_idx"])
        .groupby("conv_id").cumcount() + 1
    )
    lineage = pd.DataFrame({"n_rows": [50, 30], "n_failures": [0, 0]})
    result = {"rows": 80, "failures": 0}
    return inp, out, lineage, result


def _check(inp, out, lineage, result):
    return gate.check_pass(inp, out, lineage, result, seed=0,
                           sample_rows=len(out))


def test_gate_accepts_the_clean_pass(clean_pass):
    assert _check(*clean_pass) == []


def test_gate_rejects_an_altered_markdown_cell(clean_pass):
    inp, out, lineage, result = clean_pass
    out = out.copy()
    i = out.index[out["fmt"] == "html"][0]
    out.loc[i, "markdown"] = out.loc[i, "markdown"] + " "
    problems = _check(inp, out, lineage, result)
    assert len(problems) == 1 and "markdown differs" in problems[0]


def test_default_sample_catches_an_altered_cell_anywhere(clean_pass):
    # the sample size the runs use covers every row of an output this size
    inp, out, lineage, result = clean_pass
    assert gate.SAMPLE_ROWS >= len(out)
    converted = out.index[out["markdown"].notna() & out["error"].isna()]
    for i in converted[::max(len(converted) // 6, 1)]:
        bad = out.copy()
        bad.loc[i, "markdown"] = bad.loc[i, "markdown"] + "x"
        problems = gate.check_pass(inp, bad, lineage, result, seed=i)
        assert len(problems) == 1 and "markdown differs" in problems[0]


def test_gate_rejects_a_dropped_row(clean_pass):
    inp, out, lineage, result = clean_pass
    problems = _check(inp, out.drop(out.index[5]), lineage, result)
    assert any("rows out 79 != rows in 80" in p for p in problems)
    assert any("1 input turns missing" in p for p in problems)


def test_gate_rejects_a_wrong_turn_seq(clean_pass):
    inp, out, lineage, result = clean_pass
    out = out.copy()
    out.loc[out.index[10], "turn_seq"] += 1
    problems = _check(inp, out, lineage, result)
    assert problems == ["1 rows with turn_seq out of 1..n order"]


def test_gate_rejects_lineage_totals_that_disagree(clean_pass):
    inp, out, lineage, result = clean_pass
    problems = _check(inp, out, lineage, {"rows": 81, "failures": 0})
    assert problems == ["lineage n_rows 80 != run rows 81"]


# --------------------------------------------------------------------------
# CPU accounting
# --------------------------------------------------------------------------

def test_tree_cpu_counts_a_reaped_child():
    import subprocess

    before = session.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert session.tree_cpu_s() - before >= 0.4


# --------------------------------------------------------------------------
# printed result and BENCHMARK.json
# --------------------------------------------------------------------------

def test_benchmark_json_names_the_kept_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(inputs.WORKLOADS)
    assert set(run.SALTED) == set(inputs.WORKLOADS)


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_result_line_has_every_end_to_end_metric_with_its_unit(workload):
    # every metric applies to every kept workload: both are batch workloads
    measured = {name: 1.5 for name in run.END_TO_END_UNITS}
    line = run.result_line(True, 10, 0, measured, run.END_TO_END_UNITS)
    got = json.loads(line)
    assert set(got) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in got["metrics"].items()} == want


def test_per_layer_metrics_match_benchmark_json():
    want = {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]}
    assert want == layers.PER_LAYER


def test_stage_times_reconcile_with_the_traced_wall_time():
    times = {"scan": 0.3, "identity": 1.7, "convert": 2.0,
             "convert_salted": 2.6, "ordered": 3.1, "write": 5.5,
             "lineage": 2.0}
    for salted in (False, True):
        m = layers.stage_metrics(times, salted, traced_wall=8.4,
                                 untraced_wall=8.0)
        assert layers.chain_sum(m, salted) == pytest.approx(8.4)
        assert m["trace.overhead_s"] == pytest.approx(0.4)
