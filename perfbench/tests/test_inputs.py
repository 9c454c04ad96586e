import json
import os

import numpy as np

import reports
import run
from reports_generator_spark.sources.tables import TABLES
from tables import build_tables

HERE = os.path.dirname(os.path.abspath(__file__))


def test_batch_plan_is_seeded_and_sized():
    a, b = reports.plan_batches(7), reports.plan_batches(7)
    assert a == b
    assert a != reports.plan_batches(8)
    seen = set()
    for i, batch in enumerate(a):
        assert sum(n for _, n in batch.files) == reports.RECORDS_PER_BATCH
        idx = [f for f, _ in batch.files]
        assert not seen & set(idx)
        assert set(batch.redelivered) <= {f for f, _ in a[i - 1].files} if i else not batch.redelivered
        seen |= set(idx)
        big = [n for _, n in batch.files if n > reports.SMALL_MAX]
        assert len(big) == reports.LARGE_FILES and len(batch.files) > 20


def test_delivered_tree_matches_plan_past_the_name_cycle(tmp_path):
    # more files than report_file_name's 420-name cycle
    batches = reports.plan_batches(3, n_batches=5)
    n_files = sum(len(b.files) for b in batches)
    assert n_files > reports.NAMES_PER_DIR
    for i in range(len(batches)):
        reports.deliver(str(tmp_path), batches, i)
    rows = reports.expected_rows(batches, len(batches) - 1, "d")
    assert len(rows) == 5 * reports.RECORDS_PER_BATCH
    assert len({r[2:5] for r in rows}) == len(rows)  # (file, date, data file) unique


def test_expected_rows_follow_the_block_grammar():
    batches = reports.plan_batches(1)
    rows = reports.expected_rows(batches, 0, "d")
    f, n = batches[0].files[0]
    vals = reports.block_values(f, n - 1)
    assert any(r[4] == vals["file"] and r[-2] == vals["status"] for r in rows)


def test_tables_are_seeded_and_typed():
    a, b = build_tables(0.001, 5), build_tables(0.001, 5)
    assert set(a) == set(TABLES)
    for name in TABLES:
        assert a[name].equals(b[name])
    emb = np.stack(a["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
