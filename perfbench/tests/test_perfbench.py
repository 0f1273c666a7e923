"""The benchmark's own tests: input determinism, metric names, output
checks and the core-count guard. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import gen
import metrics
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- generators ------------------------------------------------------------

GENERATORS = {
    "messy_ingest": lambda seed, d: gen.messy_ingest_shard(seed, 0, d, target_mb=0.1, n_files=2),
    "crawl_curation": lambda seed, d: gen.crawl_shard(seed, 0, d, n_docs=80),
    "star_analytics": lambda seed, d: gen.star_shard(seed, 0, d, n_lineitem=400),
    "index_maintenance": lambda seed, d: gen.embeddings_file(seed, np.arange(50), d),
}


def test_every_workload_has_a_generator():
    assert set(GENERATORS) == set(workloads.WORKLOADS)


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(name, tmp_path):
    make = GENERATORS[name]
    info = make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    a, b, c = (gen.dir_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c
    assert info["input_mb"] > 0


def test_messy_sizes_and_templates():
    r = gen.rng_for(3, "t")
    text, _ = gen.messy_document(r, 1, 4096)
    assert len(text) >= 4096
    assert len(gen.TEMPLATES) == 17


def test_crawl_plants_every_share(tmp_path):
    info = gen.crawl_shard(5, 0, str(tmp_path), n_docs=300)
    assert all(v > 0 for v in info["planted_shares"].values())


# -- metric names ----------------------------------------------------------


def test_metric_names_and_units_follow_the_grammar():
    for table in (metrics.END_TO_END, metrics.PER_LAYER, metrics.REPORT_ONLY):
        for name, unit in table.items():
            assert metrics.NAME_RE.match(name), name
            assert metrics.UNIT_RE.match(unit), unit
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_tail_percentile_keeps_ten_samples_beyond():
    assert metrics.tail([1.0] * 10) == (None, None)
    values = [float(i) for i in range(1, 101)]
    value, p = metrics.tail(values)
    assert p == 90 and value == 90.0
    value, p = metrics.tail([float(i) for i in range(1, 21)])
    assert p == 50 and value == 10.0


# -- output checks ---------------------------------------------------------


def _messy_outputs(tmp_path):
    from auraverse_etl_pipeline_spark.ingest.api import parse_file
    from auraverse_etl_pipeline_spark.ingest.convert import convert_document

    gen.messy_ingest_shard(11, 0, str(tmp_path), target_mb=0.05, n_files=1)
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pandas().set_index("doc_id")["text"]
    rows = [
        (doc_id, r["format"], r["start"], r["end"], json.dumps(r["data"], ensure_ascii=False))
        for doc_id, text in docs.items()
        for r in parse_file(text)["records"]
    ]
    recs = pd.DataFrame(rows, columns=["doc_id", "format", "start", "end", "data"])
    conv = pd.Series({d: json.dumps(convert_document(t), ensure_ascii=False) for d, t in docs.items()})
    return docs, recs, conv


def test_messy_check_passes_the_reference_and_catches_a_wrong_record(tmp_path):
    docs, recs, conv = _messy_outputs(tmp_path)
    sample = list(docs.index)
    assert workloads.check_messy_sample(docs, recs, conv, sample) == []
    wrong = recs.copy()
    wrong.loc[0, "data"] = '{"planted": "wrong"}'
    assert workloads.check_messy_sample(docs, wrong, conv, sample)
    missing = recs.drop(index=0)
    assert workloads.check_messy_sample(docs, missing, conv, sample)
    bad_conv = conv.copy()
    bad_conv.iloc[0] = "{}"
    assert workloads.check_messy_sample(docs, recs, bad_conv, sample)


def test_funnel_check_catches_a_wrong_funnel_row(tmp_path):
    import duckdb

    from auraverse_etl_pipeline_spark.plans.registry import all_queries

    gen.crawl_shard(2, 0, str(tmp_path), n_docs=60)
    con = duckdb.connect()
    workloads._duck_views(con, str(tmp_path), ["documents"])
    want = con.execute(all_queries()["pipeline_crawl_to_corpus"].oracle).df()
    con.close()
    assert len(want) == 9
    assert workloads.frames_match(want.copy(), want, "funnel") == []
    wrong = want.copy()
    wrong.loc[wrong["stage"] == "gopher", "docs_out"] += 1
    assert workloads.frames_match(wrong, want, "funnel")
    assert workloads.frames_match(want.iloc[:-1], want, "funnel")


def test_index_check_catches_findings_and_a_wrong_live_set(tmp_path):
    root = tmp_path / "index"
    os.makedirs(root / "assignments" / "cell=0")
    pd.DataFrame({"id": np.arange(5, dtype=np.int64)}).to_parquet(
        root / "assignments" / "cell=0" / "part-0.parquet", index=False
    )
    clean = pd.DataFrame({"check": ["orphan_pq_codes"], "violations": [0]})
    assert workloads.check_index_state(str(root), set(range(5)), clean) == []
    assert workloads.check_index_state(str(root), set(range(6)), clean)
    found = pd.DataFrame({"check": ["orphan_pq_codes"], "violations": [2]})
    assert workloads.check_index_state(str(root), set(range(5)), found)


# -- the local[nproc] guard ------------------------------------------------


def test_guard_refuses_oversubscription():
    run.guard_parallelism("local[4]", 4, 4)
    with pytest.raises(run.Refused):
        run.guard_parallelism("local[32]", 32, 4)
    with pytest.raises(run.Refused):
        run.guard_parallelism("local[4]", 8, 4)
    with pytest.raises(run.Refused):
        run.guard_parallelism("local[*]", 4, 4)


def test_environment_cannot_ask_for_more_cores(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[32]")
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        monkeypatch.setenv(var, str(tmp_path))  # restored after the test
    monkeypatch.setattr("tempfile.tempdir", None)
    run.prepare_environment(str(tmp_path), 4)
    assert os.environ["SPARK_GRAFT_CPUS"] == "4"
    assert "SPARK_GRAFT_MASTER" not in os.environ


def test_timing_metric_strings_parse():
    from spans import parse_timing_total

    assert parse_timing_total("total (min, med, max (stageId: taskId))\n1.9 s (0 ms, 1 ms)") == 1.9
    assert parse_timing_total("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)") == 0.25
    assert parse_timing_total("1.5 m") == 90.0
