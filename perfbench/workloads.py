"""The benchmark's workloads: inputs made from the seed, one timed pass, and
the checks that decide whether a pass or a run failed.

Each workload drives the program only through public names:
`sources.synthetic`, `pipeline.extract` (`extract_turns`, `run_extract_job`,
`make_extract_fn`, the output schemas), `operators.ALL_QUERIES` and the
kernel entry points. The program is imported inside the functions that
use it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import tables

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "pinned.json")) as _f:
    PINNED = json.load(_f)

KINDS = ("doc_parser_json", "generic_markdown", "text_block",
         "readability_html", "pdf_layout", "none")
ARROW_BATCH = 2048  # spark.sql.execution.arrow.maxRecordsPerBatch
N_BUCKETS = 64  # extract_turns / run_extract_job default

# pinned kernel sample: the first 8 turns of 40 conversations at seed 42
SAMPLE_SEED, SAMPLE_CONVS, SAMPLE_TURNS = 42, 40, 8


def _ext_for(tool: str, text: str) -> str:
    """Payload kind from the tool column (FIXTURES.md §1): the file
    extension the extraction stage hands to the kernels. Restated rather
    than imported because the stage's own helper is private."""
    if tool == "doc_parser":
        return "json"
    if tool == "markdown":
        return "md"
    if tool == "html":
        return "html"
    if tool == "pdf" or text.startswith("%PDF-"):
        return "pdf"
    return "txt"


def _coerce(value, dtype):
    """A kernel dict or a parquet row value, coerced by the Spark output
    type, so both sides of the output check read the same."""
    from pyspark.sql import types as T
    if value is None:
        # the stage writes an absent list or map as empty
        if isinstance(dtype, T.ArrayType):
            return []
        return {} if isinstance(dtype, T.MapType) else None
    if isinstance(dtype, T.StructType):
        return {f.name: _coerce(value.get(f.name), f.dataType)
                for f in dtype.fields}
    if isinstance(dtype, T.ArrayType):
        return [_coerce(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.MapType):
        pairs = value.items() if isinstance(value, dict) else value
        return {str(k): str(v) for k, v in pairs}
    if isinstance(dtype, T.DoubleType):
        return float(value)
    if isinstance(dtype, (T.IntegerType, T.LongType)):
        return int(value)
    return value


def _turn_digest(source_kind, confidence, clean_text, spans, records) -> str:
    from ocr_spark.pipeline.extract import RECORD_SCHEMA, SPAN_SCHEMA
    from pyspark.sql.types import ArrayType
    doc = [source_kind, float(confidence), clean_text,
           _coerce(spans, ArrayType(SPAN_SCHEMA)),
           _coerce(records, ArrayType(RECORD_SCHEMA))]
    raw = json.dumps(doc, sort_keys=True, ensure_ascii=False)
    return hashlib.md5(raw.encode("utf-8")).hexdigest()


def _kernel_digest(res: dict) -> str:
    """Digest of one in-process extract_turn result."""
    spans = [{"field": f, "start": s, "end": e} for f, s, e in res["spans"]]
    return _turn_digest(res["source_kind"], res["confidence"],
                        res["clean_text"], spans, res["invoices"])


def _run_kernel(extract_turn, conv_id, turn_idx, text, tool):
    text, tool = text or "", tool or ""
    ext = _ext_for(tool, text)
    return extract_turn(ext, f"{conv_id}_{int(turn_idx)}.{ext}", text)


def kernel_sample_digest() -> str:
    """Digest of extract_turn over the pinned fixed-seed sample."""
    from ocr_spark.kernels.parsers import extract_turn
    from ocr_spark.sources.synthetic import payload_for
    h = hashlib.md5()
    for c in range(SAMPLE_CONVS):
        conv_id = f"conv-{c:06d}"
        for t in range(SAMPLE_TURNS):
            _role, text, tool = payload_for(conv_id, t, SAMPLE_SEED)
            res = _run_kernel(extract_turn, conv_id, t, text, tool)
            h.update(_kernel_digest(res).encode())
    return h.hexdigest()


class Extraction:
    """docs_mix: the synthetic transcript mix staged to parquet; each pass
    is salted `extract_turns(...)` plus a count."""

    N_CONVS = 480
    INPUT_FILES = 4
    PASS_S = 2.5  # nominal warm pass wall on 4 cores; sizes the pass count

    def __init__(self, work_dir: str, seed: int, tracer):
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.input_dir = os.path.join(work_dir, "input")
        self.rows: list[tuple] = []
        self.actual: dict = {}
        self.layers: dict[str, float] = {}

    # -- input -------------------------------------------------------------
    def prepare(self, spark) -> dict:
        """Generate the transcripts in-process: the same rows
        `synthesize_transcripts(spark, N_CONVS, seed=seed)` yields (one pure
        function of (seed, conv_id, turn_idx), hot conversations included),
        kept here for the reference check and staged to parquet."""
        from ocr_spark.sources.synthetic import (BASE_EPOCH, n_turns_for,
                                                 payload_for)
        rows = []
        with self.tracer.span("generate"):
            for c in range(self.N_CONVS):
                conv_id = f"conv-{c:06d}"
                for t in range(n_turns_for(c)):
                    role, text, tool = payload_for(conv_id, t, self.seed)
                    rows.append((conv_id, t, role, text, tool,
                                 BASE_EPOCH + t))
        self.rows = rows
        with self.tracer.span("stage_input"):
            self._stage(rows)
        self.df = spark.read.parquet(self.input_dir)
        return {"turns": len(rows), "convs": self.N_CONVS,
                "input_bytes": sum(len(r[3].encode()) for r in rows)}

    def _stage(self, rows) -> None:
        cols = list(zip(*rows))
        table = pa.table({
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array([v * 1_000_000 for v in cols[5]],
                           pa.timestamp("us", tz="UTC")),
        })
        os.makedirs(self.input_dir, exist_ok=True)
        step = -(-len(rows) // self.INPUT_FILES)
        for i in range(self.INPUT_FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(self.input_dir, f"part-{i}.parquet"))

    @property
    def n_turns(self) -> int:
        return len(self.rows)

    # -- passes ------------------------------------------------------------
    def check_pass(self, spark) -> list[str]:
        """Untimed first pass (warms the plan and the workers): write the
        extracted turns and read them back for the output check."""
        from ocr_spark.pipeline.extract import extract_turns
        out = os.path.join(self.work_dir, "check")
        extract_turns(self.df).write.mode("overwrite").parquet(out)
        self._read_output(out)
        shutil.rmtree(out, ignore_errors=True)
        return []

    def _read_output(self, path: str) -> None:
        cols = ["conv_id", "turn_idx", "source_kind", "confidence",
                "clean_text", "spans", "records"]
        for r in pq.read_table(path, columns=cols).to_pylist():
            self.actual[(r["conv_id"], r["turn_idx"])] = _turn_digest(
                r["source_kind"], r["confidence"], r["clean_text"],
                r["spans"], r["records"])

    def run_pass(self, spark, i) -> dict:
        """One timed pass: wall, failures and per-pass layer values."""
        from ocr_spark.pipeline.extract import extract_turns
        spark.sparkContext.setJobGroup(f"pass-{i}", "timed pass")
        t0 = time.perf_counter()
        n = extract_turns(self.df).count()
        wall = time.perf_counter() - t0
        failures = []
        if n != self.n_turns:
            failures.append(f"pass {i}: {n} rows out for {self.n_turns} in")
        return {"wall_s": wall, "failures": failures,
                "groups": {f"pass-{i}": None}}

    # -- checks and in-process layers --------------------------------------
    def verify(self, trace: bool) -> list[str]:
        """Compare the distributed output with in-process extract_turn over
        the same turns, and the kernel sample with its pinned digest. The
        same loop times each kernel by payload kind; traced, the extraction
        stage is timed first, which also warms the kernels' caches."""
        from ocr_spark.kernels.parsers import detect_parser, extract_turn
        if trace:
            self._time_extract_stage()
        failures = []
        per_kind = {k: [0, 0, 0.0] for k in KINDS}  # turns, bytes, seconds
        mismatched = 0
        for conv_id, t, _role, text, tool, _ts in self.rows:
            t0 = time.perf_counter()
            res = _run_kernel(extract_turn, conv_id, t, text, tool)
            dt = time.perf_counter() - t0
            acc = per_kind[res["source_kind"] or "none"]
            acc[0] += 1
            acc[1] += len(text.encode("utf-8"))
            acc[2] += dt
            if self.actual.get((conv_id, t)) != _kernel_digest(res):
                mismatched += 1
        extra = len(set(self.actual) - {(r[0], r[1]) for r in self.rows})
        if mismatched or extra:
            failures.append(f"output check: {mismatched} of {self.n_turns} "
                            f"turns differ from in-process extract_turn, "
                            f"{extra} extra")
        if kernel_sample_digest() != PINNED["kernel_sample_md5"]:
            failures.append("kernel sample digest differs from pinned.json")
        if trace:
            for kind, (n, nbytes, secs) in per_kind.items():
                self.layers[f"kernels.{kind}.turns"] = n
                self.layers[f"kernels.{kind}.bytes"] = nbytes
                self.layers[f"kernels.{kind}.us_per_turn"] = (
                    secs / n * 1e6 if n else 0.0)
            t0 = time.perf_counter()
            for _c, _t, _r, text, tool, _ts in self.rows:
                detect_parser(_ext_for(tool or "", text or ""), text or "")
            self.layers["kernels.detect.us_per_turn"] = (
                (time.perf_counter() - t0) / self.n_turns * 1e6)
        return failures

    def _time_extract_stage(self) -> None:
        """make_extract_fn() over Arrow-sized pandas batches of the turns,
        with extract_turn wrapped so the same run yields the hand-back: the
        stage time minus the time spent inside extract_turn."""
        import pandas as pd

        from ocr_spark.kernels import parsers
        from ocr_spark.pipeline.extract import (make_extract_fn,
                                                stable_bucket_py)
        cols = list(zip(*self.rows))
        frame = pd.DataFrame({
            "conv_id": cols[0],
            "turn_idx": pd.Series(cols[1], dtype="int32"),
            "role": cols[2], "text": cols[3], "tool": cols[4],
            "ts": pd.to_datetime(cols[5], unit="s", utc=True),
            "bucket": pd.Series([stable_bucket_py(c, N_BUCKETS)
                                 for c in cols[0]], dtype="int32"),
        })
        batches = [frame.iloc[i:i + ARROW_BATCH].reset_index(drop=True)
                   for i in range(0, len(frame), ARROW_BATCH)]
        kernel = parsers.extract_turn
        in_kernel = 0.0

        def timed_kernel(*args):
            nonlocal in_kernel
            t = time.perf_counter()
            try:
                return kernel(*args)
            finally:
                in_kernel += time.perf_counter() - t

        parsers.extract_turn = timed_kernel
        try:
            t0 = time.perf_counter()
            for _out in make_extract_fn()(iter(batches)):
                pass
            stage_s = time.perf_counter() - t0
        finally:
            parsers.extract_turn = kernel
        self.layers["extract_stage.us_per_turn"] = (
            stage_s / self.n_turns * 1e6)
        self.layers["extract_stage.handback_us_per_turn"] = (
            (stage_s - in_kernel) / self.n_turns * 1e6)


class JobWrite(Extraction):
    """job_write: `run_extract_job` on the docs_mix input into a fresh
    output directory on every pass (bucketed parquet write, read-back,
    manifest aggregation and commit)."""

    N_CONVS = 240
    PASS_S = 4.0

    def _job(self, spark, tag: str) -> tuple[dict, str]:
        from ocr_spark.pipeline.extract import run_extract_job
        out = os.path.join(self.work_dir, "job", tag)
        res = run_extract_job(spark, self.df, out, run_id=tag)
        return res, out

    def _check_job(self, res: dict, out: str, label: str) -> list[str]:
        failures = []
        if res["rows_out"] != self.n_turns:
            failures.append(f"{label}: {res['rows_out']} rows out for "
                            f"{self.n_turns} in")
        manifest = pq.read_table(os.path.join(out, "_checkpoints"))
        rows = pc.sum(manifest.column("rows_out")).as_py()
        if rows != self.n_turns:
            failures.append(f"{label}: manifest rows_out sums to {rows}, "
                            f"input has {self.n_turns}")
        return failures

    def check_pass(self, spark) -> list[str]:
        res, out = self._job(spark, "check")
        failures = self._check_job(res, out, "check pass")
        self._read_output(os.path.join(out, "extracted_turns"))
        shutil.rmtree(out, ignore_errors=True)
        return failures

    def run_pass(self, spark, i) -> dict:
        spark.sparkContext.setJobGroup(f"pass-{i}", "timed pass")
        t0 = time.perf_counter()
        res, out = self._job(spark, f"pass-{i}")
        wall = time.perf_counter() - t0
        files = sum(name.endswith(".parquet") for _d, _s, names in
                    os.walk(os.path.join(out, "extracted_turns"))
                    for name in names)
        failures = self._check_job(res, out, f"pass {i}")
        shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": wall, "failures": failures,
                "groups": {f"pass-{i}": None}, "spark.write.files": files}


def _result_digest(rows, cols) -> str:
    """Digest of a query result: columns by name, floats rounded to 6
    places, rows sorted (the oracle-comparison rule of tools/driver_sim.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            vals.append(repr(round(v, 6) if isinstance(v, float) else v))
        lines.append("|".join(vals))
    lines.sort()
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _query(name: str):
    from ocr_spark.operators import ALL_QUERIES
    return ALL_QUERIES[name]


def _oracle(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}.parquet'")
    return con


class Curation:
    """curation_queries: a fixed panel of registry queries over seeded
    star-schema and corpus tables; each query ends in count()."""

    PANEL = ["q1_pricing_summary", "w3_gap_sessionize", "j2_product_join",
             "conv_assemble", "emb_cosine_hist"]
    PASS_S = 3.2  # panel pass plus the releases between its queries

    def __init__(self, work_dir: str, seed: int, tracer):
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.sf_dir = os.path.join(work_dir, "tables")
        self.expected_rows: dict[str, int] = {}
        self.layers: dict[str, float] = {}

    def prepare(self, spark) -> dict:
        with self.tracer.span("generate"):
            rows = tables.write_tables(self.sf_dir, self.seed)
        return {"rows": rows}

    def check_pass(self, spark) -> list[str]:
        """Untimed first pass: collect each result and compare it with the
        registry's DuckDB oracle SQL over the same tables."""
        failures = []
        con = _oracle(self.sf_dir)
        for name in self.PANEL:
            fn, sql = _query(name)
            df = fn(spark, self.sf_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            self._release(spark)
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            self.expected_rows[name] = len(orows)
            if (len(rows) != len(orows) or sorted(cols) != sorted(ocols)
                    or _result_digest(rows, cols)
                    != _result_digest(orows, ocols)):
                failures.append(f"{name}: result differs from its oracle "
                                f"({len(rows)} vs {len(orows)} rows)")
        con.close()
        return failures

    @staticmethod
    def _release(spark):
        # as in bench.py: operators persist intermediates for the caller's
        # action; drop them and let the JVM reclaim the blocks outside the
        # timed window
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    def run_pass(self, spark, i) -> dict:
        """One panel pass; its wall is the sum of the query walls."""
        failures, walls, groups = [], {}, {}
        for name in self.PANEL:
            fn, _sql = _query(name)
            group = f"pass-{i}/{name}"
            spark.sparkContext.setJobGroup(group, "timed query")
            with self.tracer.span("query", query=name) as span:
                t0 = time.perf_counter()
                n = fn(spark, self.sf_dir).count()
                walls[name] = time.perf_counter() - t0
            groups[group] = span["id"] if span else None
            self._release(spark)
            if n != self.expected_rows[name]:
                failures.append(f"pass {i}: {name} returned {n} rows, its "
                                f"oracle {self.expected_rows[name]}")
        return {"wall_s": sum(walls.values()), "failures": failures,
                "groups": groups, "query_walls": walls}

    def verify(self, trace: bool) -> list[str]:
        if kernel_sample_digest() != PINNED["kernel_sample_md5"]:
            return ["kernel sample digest differs from pinned.json"]
        return []


WORKLOADS = {
    "docs_mix": Extraction,
    "job_write": JobWrite,
    "curation_queries": Curation,
}
