"""The four workloads: inputs, the timed job, and the output check.

Each workload is a closed loop driven by :mod:`run`: ``prepare(k)``
generates job ``k``'s fresh input (untimed), ``run(k, inp)`` is the
timed job, and ``check(k, inp, out)`` compares its output against an
independent reference (untimed) and returns a list of mismatches.
``stage()`` is the program-side staging that belongs to set-up (the
day-1 index build); it must be repeatable.

Every call into the engine goes through ``self.tracer.span(layer, name)``
with the layer named after the package module that does the work.
"""

from __future__ import annotations

import collections
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer = None
        #: layer-specific counters (name -> value), summed over traced jobs
        self.counters: collections.Counter = collections.Counter()
        self.inputs: dict = {}

    def bind(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def job_dir(self, k: int) -> str:
        return os.path.join(self.work, f"job-{k:05d}")

    def generate_setup(self) -> None:
        """Inputs the set-up staging reads (benchmark time, not set-up)."""

    def stage(self) -> None:
        """Program staging that belongs to set-up."""

    def prepare(self, k: int) -> dict:
        raise NotImplementedError

    def run(self, k: int, inp: dict):
        raise NotImplementedError

    def check(self, k: int, inp: dict, out) -> list[str]:
        raise NotImplementedError

    def release(self, k: int) -> None:
        shutil.rmtree(self.job_dir(k), ignore_errors=True)

    def traced_extras(self) -> dict[str, float]:
        """Extra traced-run measurements made after the loop."""
        return {}


# ---------------------------------------------------------------------------
# output comparison shared by the oracle-checked workloads
# ---------------------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, dtype-normalized frame (the
    normalisation the repository's oracle-parity tests apply)."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif s.dtype == object:
            s = s.astype(str)
        out[c] = s
    df = pd.DataFrame(out)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame, name: str) -> list[str]:
    """Exact equality after :func:`_normalize`; mismatches as messages."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    a, b = _normalize(got), _normalize(want)
    errors = []
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]):
            eq = (av == bv) | (np.isnan(av.astype(float)) & np.isnan(bv.astype(float)))
        else:
            eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
        if not eq.all():
            bad = np.nonzero(~eq)[0][:3].tolist()
            errors.append(f"{name}: column {c!r} differs at rows {bad}")
    return errors


def _duck_views(con, shard: str, tables) -> None:
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{shard}/{t}.parquet')")


# ---------------------------------------------------------------------------
# messy_ingest
# ---------------------------------------------------------------------------


class MessyIngest(Workload):
    """The paper's own pipeline on multi-format documents; the Python
    kernels do most of the work."""

    name = "messy_ingest"
    MB_PER_JOB = 3.0
    FILES_PER_JOB = 4
    SAMPLE = 6  # documents per job re-parsed by the pure-Python reference

    def prepare(self, k: int) -> dict:
        d = self.job_dir(k)
        info = gen.messy_ingest_shard(self.seed, k, d, self.MB_PER_JOB, self.FILES_PER_JOB)
        return {"dir": d, **info}

    def run(self, k: int, inp: dict):
        from auraverse_etl_pipeline_spark.ingest.convert import convert_corpus
        from auraverse_etl_pipeline_spark.ingest.pipeline import (
            consolidated_schema,
            detect_fragments,
            extract_records,
            infer_schema_fields,
            summarize_fragments,
        )
        from auraverse_etl_pipeline_spark.sources.sinks import write_parquet
        from auraverse_etl_pipeline_spark.sources.tables import load_table

        d, tr = inp["dir"], self.tracer
        docs = load_table(self.spark, d, "documents")
        with tr.span("ingest", "detect_fragments+summarize_fragments"):
            summary = summarize_fragments(detect_fragments(docs))
            tr.record_phases(summary)
            summary = summary.toPandas()
        with tr.span("ingest", "extract_records+write_parquet"):
            recs = extract_records(docs)
            tr.record_phases(recs)
            write_parquet(recs, f"{d}/out/records")
        with tr.span("ingest", "infer_schema_fields+consolidated_schema+write_parquet"):
            schema = consolidated_schema(infer_schema_fields(self.spark.read.parquet(f"{d}/out/records")))
            tr.record_phases(schema)
            write_parquet(schema, f"{d}/out/schema")
        with tr.span("ingest", "convert_corpus+write_parquet"):
            conv = convert_corpus(docs)
            tr.record_phases(conv)
            write_parquet(conv, f"{d}/out/converted")
        return summary

    def check(self, k: int, inp: dict, summary) -> list[str]:
        d = inp["dir"]
        docs = pq.read_table(f"{d}/documents.parquet").to_pandas().set_index("doc_id")["text"]
        recs = pq.read_table(f"{d}/out/records").to_pandas()
        conv = pq.read_table(f"{d}/out/converted").to_pandas().set_index("doc_id")["merged"]
        schema = pq.read_table(f"{d}/out/schema").to_pandas()
        sample = gen.rng_for(self.seed, "messy-sample", k).sample(sorted(docs.index), self.SAMPLE)
        errors = check_messy_sample(docs, recs, conv, sample)
        n_frag = int(summary["n_fragments"].sum())
        if len(recs) > n_frag:
            errors.append(f"job {k}: {len(recs)} records from {n_frag} fragments")
        if self.tracer.enabled:
            c = self.counters
            c["ingest.docs"] += len(docs)
            c["ingest.fragments"] += n_frag
            c["ingest.records"] += len(recs)
            c["ingest.fields"] += int(schema["n_occurrences"].sum())
        return errors


def check_messy_sample(docs: pd.Series, recs: pd.DataFrame, conv: pd.Series, sample) -> list[str]:
    """Spark's records and merged documents for ``sample`` doc ids must
    equal what the single-document API gives for the same text."""
    from auraverse_etl_pipeline_spark.ingest.api import parse_file
    from auraverse_etl_pipeline_spark.ingest.convert import convert_document

    errors = []
    by_doc = recs.groupby("doc_id")
    for doc_id in sample:
        text = docs[doc_id]
        want = sorted(
            (r["format"], r["start"], r["end"], json.dumps(r["data"], ensure_ascii=False))
            for r in parse_file(text)["records"]
        )
        got = (
            sorted(
                zip(*(by_doc.get_group(doc_id)[c].tolist() for c in ("format", "start", "end", "data")))
            )
            if doc_id in by_doc.groups
            else []
        )
        if len(got) != len(want):
            errors.append(f"doc {doc_id}: {len(got)} records, reference {len(want)}")
        elif got != want:
            errors.append(f"doc {doc_id}: records differ from parse_file")
        if conv.get(doc_id) != json.dumps(convert_document(text), ensure_ascii=False):
            errors.append(f"doc {doc_id}: converted document differs from convert_document")
    return errors


# ---------------------------------------------------------------------------
# crawl_curation
# ---------------------------------------------------------------------------


class CrawlCuration(Workload):
    """The heaviest path: WARC round trip, fragment re-assembly shuffle,
    eager cuts, the LM gate and the MinHash band join."""

    name = "crawl_curation"
    DOCS_PER_JOB = 200
    QUERY = "pipeline_crawl_to_corpus"

    def prepare(self, k: int) -> dict:
        d = self.job_dir(k)
        return {"dir": d, **gen.crawl_shard(self.seed, k, d, self.DOCS_PER_JOB)}

    def run(self, k: int, inp: dict):
        from auraverse_etl_pipeline_spark.plans.registry import all_queries

        tr = self.tracer
        with tr.span("operators", "e2e.crawl_to_corpus_funnel"):
            df = all_queries()[self.QUERY].fn(self.spark, inp["dir"])
            tr.record_phases(df)
            return df.toPandas()

    def check(self, k: int, inp: dict, out: pd.DataFrame) -> list[str]:
        import duckdb

        from auraverse_etl_pipeline_spark.plans.registry import all_queries

        con = duckdb.connect()
        try:
            _duck_views(con, inp["dir"], ["documents"])
            want = con.execute(all_queries()[self.QUERY].oracle).df()
        finally:
            con.close()
        errors = frames_match(out, want, f"job {k} funnel")
        if self.tracer.enabled and not errors:
            rows = out.set_index("stage")
            self.counters["operators.lm_scored_docs"] += int(rows.loc["lm_fluency", "docs_in"])
            self.counters["operators.funnel_docs_in"] += int(rows.loc["warc_roundtrip", "docs_in"])
            self.counters["operators.funnel_docs_out"] += int(rows.loc["final_corpus", "docs_out"])
        return errors

    def traced_extras(self) -> dict[str, float]:
        """Run the funnel's constituent public calls one by one on a
        fresh shard, then the fused call on the same shard; report how
        much of the fused wall the staged calls cover, and the MinHash
        candidate and verified pair counts."""
        import time

        import pyspark.sql.functions as F

        from auraverse_etl_pipeline_spark.ingest.pipeline import detect_fragments
        from auraverse_etl_pipeline_spark.ingest.warc import documents_to_warc, warc_documents
        from auraverse_etl_pipeline_spark.operators.dedup import minhash_near_duplicates
        from auraverse_etl_pipeline_spark.operators.lm import lm_score_report
        from auraverse_etl_pipeline_spark.operators.quality import gopher_metrics
        from auraverse_etl_pipeline_spark.sources.tables import load_table

        k = 1_000_000
        inp = self.prepare(k)
        tr = self.tracer
        docs = load_table(self.spark, inp["dir"], "documents").select("doc_id", "text", "lang")
        ref = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0))

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def pairs(threshold: float) -> int:
            found = minhash_near_duplicates(docs, jaccard_threshold=threshold, hash_fn="md5")
            n = found.count()
            found.release_caches()
            return n

        staged = [
            ("ingest", "warc.documents_to_warc+warc_documents",
             lambda: noop(warc_documents(documents_to_warc(docs.select("doc_id", "text"), gzip=True)))),
            ("ingest", "pipeline.detect_fragments", lambda: noop(detect_fragments(docs))),
            ("operators", "quality.gopher_metrics", lambda: noop(docs.select(*gopher_metrics("text")))),
            ("operators", "lm.lm_score_report", lambda: noop(lm_score_report(docs, ref))),
            ("operators", "dedup.minhash_near_duplicates", lambda: pairs(0.5)),
        ]
        staged_s, results = 0.0, {}
        for layer, name, call in staged:
            t0 = time.perf_counter()
            with tr.span(layer, name):
                results[name] = call()
            staged_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        self.run(k, inp)
        fused = time.perf_counter() - t0
        verified = results["dedup.minhash_near_duplicates"]
        candidates = pairs(0.0)  # every candidate pair: the verify threshold at 0
        self.release(k)
        return {
            "operators.staged_coverage_frac": staged_s / fused,
            "operators.minhash_candidates": candidates,
            "operators.minhash_verified_frac": verified / candidates if candidates else 0.0,
        }


# ---------------------------------------------------------------------------
# star_analytics
# ---------------------------------------------------------------------------


class StarAnalytics(Workload):
    """JVM-only sub-second queries, no Python workers and no writes: the
    control an ingest or Arrow change must leave alone."""

    name = "star_analytics"
    LINEITEM_PER_JOB = 30_000
    QUERIES = (
        "q01_pricing_summary", "q03_region_nation_revenue", "q05_returned_customers",
        "q09_nation_year_profit", "q12_orders_monthly_kpis", "q18_large_quantity_orders",
        "q20_hourly_event_windows", "q37_percentile_ladder",
    )
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

    def prepare(self, k: int) -> dict:
        d = self.job_dir(k)
        return {"dir": d, **gen.star_shard(self.seed, k, d, self.LINEITEM_PER_JOB)}

    def run(self, k: int, inp: dict):
        from auraverse_etl_pipeline_spark.plans.registry import all_queries

        reg, tr, out = all_queries(), self.tracer, {}
        for q in self.QUERIES:
            with tr.span("plans", f"analytics.{q}"):
                df = reg[q].fn(self.spark, inp["dir"])
                tr.record_phases(df)
                out[q] = df.toPandas()
        return out

    def check(self, k: int, inp: dict, out: dict) -> list[str]:
        import duckdb

        from auraverse_etl_pipeline_spark.plans.registry import all_queries

        reg, errors = all_queries(), []
        con = duckdb.connect()
        try:
            _duck_views(con, inp["dir"], self.TABLES)
            for q in self.QUERIES:
                errors += frames_match(out[q], con.execute(reg[q].oracle).df(), f"job {k} {q}")
        finally:
            con.close()
        return errors


# ---------------------------------------------------------------------------
# index_maintenance
# ---------------------------------------------------------------------------


class IndexMaintenance(Workload):
    """Reads beside writes on the compressed IVF-PQ index, where commit
    overhead dominates; one job is one maintenance cycle. The layout has
    no SQ surfaces, so the tick's SQ pass has nothing to audit."""

    name = "index_maintenance"
    DAY1 = 2000
    BATCH = 200
    M, KSUB, NLIST = 8, 16, 8

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.root = os.path.join(work, "index")
        self.day1_path = os.path.join(work, "day1")
        self.live: collections.deque = collections.deque()
        self.next_id = self.DAY1

    def generate_setup(self) -> None:
        self.inputs["day1"] = gen.embeddings_file(self.seed, np.arange(self.DAY1), self.day1_path)

    def stage(self) -> None:
        """Build the day-1 IVF-PQ layout (IVF cells, PQ codebooks and
        codes, the encode log) from scratch."""
        import pyspark.sql.functions as F

        from auraverse_etl_pipeline_spark.operators.similarity import (
            ivf_index,
            pq_codebooks,
            pq_encode_with_error,
        )
        from auraverse_etl_pipeline_spark.sources.sinks import write_parquet

        shutil.rmtree(self.root, ignore_errors=True)
        emb = self.spark.read.parquet(self.day1_path)
        root, m, dim = self.root, self.M, gen.DIM
        ivf_index(emb, nlist=self.NLIST, quantizer="sample").save(root)
        cells = self.spark.read.parquet(f"{root}/assignments").select("id", "cell")
        books = pq_codebooks(emb, m=m, ksub=self.KSUB, dim=dim)
        codes, log, handle = pq_encode_with_error(emb, books, m=m, dim=dim)
        write_parquet(books.coalesce(1), f"{root}/codebooks")
        write_parquet(codes.join(cells, "id").repartition("cell"), f"{root}/pq_codes", partition_by=["cell"])
        write_parquet(log.withColumn("batch_id", F.lit(0).cast("bigint")), f"{root}/encode_log")
        handle.unpersist()
        self.live = collections.deque(range(self.DAY1))
        self.next_id = self.DAY1

    def prepare(self, k: int) -> dict:
        """Fresh ids for the append, and the tombstone list retiring as
        many of the oldest live ids."""
        d = self.job_dir(k)
        ids = np.arange(self.next_id, self.next_id + self.BATCH)
        self.next_id += self.BATCH
        info = gen.embeddings_file(self.seed, ids, f"{d}/batch")
        tomb = [self.live[i] for i in range(self.BATCH)]
        pd.DataFrame({"id": np.array(tomb, dtype=np.int64)}).to_parquet(f"{d}/tombstones.parquet", index=False)
        return {"dir": d, "ids": ids, "tomb": tomb, **info}

    def run(self, k: int, inp: dict):
        from auraverse_etl_pipeline_spark.streaming.ops import (
            compressed_index_append,
            compressed_index_fsck,
            compressed_index_tick,
        )

        tr, d = self.tracer, inp["dir"]
        with self._files_written(), tr.span("streaming", "ops.compressed_index_append"):
            appended = compressed_index_append(
                self.spark, self.root, self.spark.read.parquet(f"{d}/batch"), m=self.M, dim=gen.DIM
            )
        with self._files_written(), tr.span("streaming", "ops.compressed_index_tick"):
            tick = compressed_index_tick(
                self.spark, self.root, tombstones_path=f"{d}/tombstones.parquet",
                m=self.M, ksub=self.KSUB, max_iter=2, dim=gen.DIM,
            )
        with tr.span("streaming", "ops.compressed_index_fsck"):
            fsck = compressed_index_fsck(self.spark, self.root)
            tr.record_phases(fsck)
            fsck = fsck.toPandas()
        return {"appended": appended, "tick": tick, "fsck": fsck}

    def check(self, k: int, inp: dict, out: dict) -> list[str]:
        self.live.extend(inp["ids"].tolist())
        for _ in inp["tomb"]:
            self.live.popleft()
        errors = check_index_state(self.root, set(self.live), out["fsck"])
        if self.tracer.enabled:
            c = self.counters
            c["streaming.appended_rows"] += int(out["appended"]["appended"])
            c["streaming.retired_rows"] += len(inp["tomb"])
            c["streaming.retrains_fired"] += int(bool(out["tick"]["pq_retrained"])) + int(
                bool(out["tick"]["sq_retrained"])
            )
            c["streaming.fsck_findings"] += int(out["fsck"]["violations"].sum())
            c["streaming.user_bytes"] += len(inp["ids"]) * (8 + 4 * gen.DIM)
        return errors

    def _files_written(self):
        """Count the files and bytes a call adds or rewrites under the
        index root (traced runs only: listing the tree costs time)."""
        import contextlib

        if not self.tracer.enabled:
            return contextlib.nullcontext()

        @contextlib.contextmanager
        def listing():
            before = _listing(self.root)
            yield
            after = _listing(self.root)
            changed = [p for p, sig in after.items() if before.get(p) != sig]
            self.counters["streaming.files_written"] += len(changed)
            self.counters["streaming.bytes_written"] += sum(after[p][0] for p in changed)

        return listing()


def _listing(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".crc"):
                continue
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def check_index_state(root: str, expected: set[int], fsck: pd.DataFrame) -> list[str]:
    """fsck must report no findings, and the live member ids on disk
    must equal the expected set."""
    errors = []
    bad = fsck[fsck["violations"] != 0]
    if len(bad):
        errors.append(f"fsck findings: {dict(zip(bad['check'], bad['violations']))}")
    on_disk = pq.read_table(f"{root}/assignments", columns=["id"]).column("id").to_pylist()
    if len(on_disk) != len(set(on_disk)) or set(on_disk) != expected:
        errors.append(
            f"live ids: {len(on_disk)} on disk ({len(set(on_disk))} distinct), expected {len(expected)}"
        )
    return errors


WORKLOADS = {w.name: w for w in (MessyIngest, CrawlCuration, StarAnalytics, IndexMaintenance)}
