#!/usr/bin/env python3
"""The engine's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Every workload runs in a closed loop
with one client on ``local[<nproc>]``, after the same set-up: session
up, catalog imported, one pandas-UDF task per slot (``setup_s``; the
seeded input generation before it is not counted).

- ``cli_crawl``: ``run.main`` over a seeded synthetic FKD site served on
  loopback by this process (list pages, direct case URLs, one unknown
  route, ``--pdf``, a fresh output directory per crawl). The timed crawl
  is the first of the session, as in a CLI invocation. Every crawl's
  manifest, JSON records and PDFs are checked against the generator's
  expectation.
- ``catalog_jvm``: catalog queries whose plans hold no Python node.
- ``catalog_arrow``: catalog queries whose plans cross into Python.
  One untimed pass over the mix, then timed passes in a seeded order;
  every result is checked against its pinned row count and
  order-insensitive hash (``pins.json``) after its pass.

A run times ``max(1, round(seconds / NOMINAL_OP_S[workload]))``
operations (crawls or passes).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``setup_s``, ``ops_per_s``, ``op_p50_s``,
``peak_rss_mb``); with ``--trace 1`` the run also writes an uncompressed
Spark event log, tags every operation with a job group, and reports the
per-layer split listed in ``BENCHMARK.json`` (``metrics.json`` adds each
metric's workloads and the end-to-end metric it should move). The line
before it names the workload's end-to-end metrics in the terms of the
pipeline (for example ``cli_cases_per_s``, ``query_tail_s`` with its
percentile and sample count). A JSON artifact with the per-query and
per-span detail, stamped with cpus, SF, seed, Spark version, driver heap
and a digest of the code, goes to ``.perfbench_work/artifacts/``.

``python3 perfbench/run.py --pin`` re-derives ``pins.json`` from the
current tree.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "shippai_knowledge_etl_spark"
PINS = os.path.join(HERE, "pins.json")

# Relational and iterative (graph_hits: dozens of jobs per query).
JVM_QUERIES = (
    "a1_status_summary", "q1_pricing_summary", "q3_top_revenue",
    "j4_multiway_region_revenue", "dedup_exact", "diagram_rects",
    "ext_token_counts", "stream_tumbling_window", "graph_hits",
)
# Codec (mm_*) and HTML (s1_html_parse, run_pipeline_e2e) queries.
ARROW_QUERIES = (
    "run_pipeline_e2e", "s1_html_parse", "mm_jpeg_decode", "mm_png_decode",
    "mm_wav_decode", "j6_asof_merge_scale", "simsearch_topk_blas",
)
CATALOG = {"catalog_jvm": JVM_QUERIES, "catalog_arrow": ARROW_QUERIES}
WORKLOADS = ("cli_crawl", *CATALOG)
CATALOG_WARMUP_PASSES = 1
# Nominal wall of one timed operation (a crawl, or one pass over a mix)
# on a 4-core host: a run times max(1, round(seconds / nominal)) of
# them, so the sample set of a run does not depend on how the last
# operation straddles the deadline.
NOMINAL_OP_S = {"cli_crawl": 30.0, "catalog_jvm": 5.0, "catalog_arrow": 5.0}
RSS_INTERVAL_S = 0.2
TAIL_BEYOND = 10  # samples the tail percentile must leave beyond it
FUNCTIONS_REPS = 5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- memory


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the driver JVM and the Python workers it forks), sampled from
    /proc at a fixed interval on one thread."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def sample(self) -> int:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            kids.setdefault(ppid, []).append(int(d))
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except OSError:
                pass
            stack.extend(kids.get(pid, ()))
        self.peak = max(self.peak, total)
        return total

    def run(self) -> None:
        while not self._halt.wait(RSS_INTERVAL_S):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


# ---------------------------------------------------------------- spans


class Spans:
    """In-memory spans: name, start, end, parent, operation id."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[str] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.perf_counter() - T0}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - T0
            self.items.append(rec)

    def total(self, name: str, ops: set[str] | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.items
                   if s["name"] == name and (ops is None or s["op"] in ops))

    def self_times(self) -> dict[str, float]:
        """Each span name's time minus the time of its direct children."""
        out: dict[str, float] = {}
        for s in self.items:
            child = sum(c["end"] - c["start"] for c in self.items
                        if c["parent"] == s["name"] and c["op"] == s["op"]
                        and s["start"] <= c["start"] and c["end"] <= s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child)
        return out


# ---------------------------------------------------------------- results


def result_digest(pdf) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a query result, canonicalised by
    the driver simulator's ``canon_frame``. Nested cells are folded to
    sorted-key JSON first (canon_frame refuses lists, as the driver does)
    and doubles to 10 significant digits, so the last-ulp differences
    of a reduction order do not flip the hash."""
    import driver_sim

    def fold(v):
        v = _plain(v)
        return json.dumps(v, sort_keys=True) if isinstance(v, (list, dict)) else v

    pdf = pdf.copy()
    for c in pdf.columns:
        if pdf[c].dtype == object or pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].map(fold).astype(object)
    cols, rows = driver_sim.canon_frame(pdf)
    h = hashlib.sha256("\x1f".join(cols + ["\x1e"] + rows).encode()).hexdigest()
    return len(rows), h[:16]


def _plain(v):
    """A result cell as plain JSON-able values (rounded doubles, lists
    for arrays, dicts for structs and maps, a digest for bytes)."""
    import numpy as np

    if isinstance(v, float):
        return float(f"{v:.10g}")
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return {str(k): _plain(x) for k, x in v.items()}
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha256(bytes(v)).hexdigest()
    return v


def tail(samples: list[float]) -> tuple[float | None, float | None, int]:
    """(value, percentile, n): latency at the highest percentile that
    leaves at least TAIL_BEYOND samples beyond it; (None, None, n) when
    no sample does. With n <= 2 * TAIL_BEYOND samples that percentile is
    at or below the median, so the value is no tail yet."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None, None, n
    k = n - TAIL_BEYOND - 1
    return xs[k], round(100.0 * (k + 1) / n, 1), n


# ---------------------------------------------------------------- harness


class Bench:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.cpus = nproc()
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.ops: list[dict] = []  # timed operations
        self.persist_prev = 0
        self.leaks = 0
        self.pipeline: dict = {}  # end-to-end metrics in the pipeline's terms

    # -- environment and setup

    def environment(self) -> None:
        for d in ("spark-local", "tmp", "artifacts", "history"):
            os.makedirs(os.path.join(WORK, d), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
        os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
        # get_spark's default driver heap is 16g, more than a 16 GB host can
        # back; with it, peak_rss_mb followed G1's heap growth and spread
        # 27% between seeds on a 4-core 16 GB host. The heap size is
        # stamped in every artifact.
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        # Python workers import the package from any working directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        confs = ["spark.ui.showConsoleProgress=false"]
        if self.trace:
            self.eventlog = os.path.join(WORK, f"eventlog-{os.getpid()}")
            shutil.rmtree(self.eventlog, ignore_errors=True)
            os.makedirs(self.eventlog)
            confs += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                      f"spark.eventLog.dir=file://{self.eventlog}"]
        # the JVM's own files stay in the work directory too: temporary
        # files (native libraries, artifacts) via java.io.tmpdir, and no
        # /tmp/hsperfdata_<user> file (-XX:-UsePerfData), whose location
        # the JVM does not let us move
        java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        self.java_opts = java_opts
        os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
        submit = [a for c in confs for a in ("--conf", c)]
        submit += ["--driver-java-options", java_opts, "pyspark-shell"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit)
        for p in (ROOT, os.path.join(ROOT, "scripts")):
            if p not in sys.path:
                sys.path.insert(0, p)

    def setup(self) -> None:
        t = time.perf_counter()
        from shippai_knowledge_etl_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.driver_memory = self.spark.conf.get("spark.driver.memory")
        self.layer["session.get_spark_s"] = time.perf_counter() - t
        t = time.perf_counter()
        from shippai_knowledge_etl_spark import catalog

        self.catalog = catalog.load_catalog()
        self.layer["catalog.load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.warm_workers()
        self.layer["session.py_worker_warm_s"] = time.perf_counter() - t

    def warm_workers(self) -> None:
        """One scalar pandas UDF task per slot, so every slot has a
        Python worker with pandas and pyarrow imported."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        self.group("setup")
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, n, 1, n).select(plus_one("id")).collect()

    def timed_ops(self) -> int:
        return max(1, round(self.args.seconds / NOMINAL_OP_S[self.args.workload]))

    def group(self, gid: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, gid)
        self.spans.op = gid

    def persistent_rdds(self) -> int:
        n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        if n > self.persist_prev:
            self.leaks += 1
        self.persist_prev = n
        return n

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"FAIL {msg}", file=sys.stderr)

    def stop(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- cli_crawl

    def run_cli(self) -> dict:
        import fkd_site
        from shippai_knowledge_etl_spark import run

        site, srv = self.site, self.server
        base = srv.base
        crawls = []

        def crawl(tag: str) -> float | None:
            out = os.path.join(WORK, "cli", tag)
            shutil.rmtree(out, ignore_errors=True)
            self.group(tag)
            captured = io.StringIO()
            t = time.perf_counter()
            try:
                with self.spans.span("run.main"), contextlib.redirect_stdout(captured):
                    rc = run.main(site.argv(base, out))
            except Exception as e:  # a raising crawl fails every case
                rc = f"{type(e).__name__}: {str(e)[:300]}"
            dt = time.perf_counter() - t
            self.persistent_rdds()
            n = len(site.expected)
            self.attempted += n
            if rc != 0 or "manifest:" not in captured.getvalue():
                self.failed += n
                self.fail(f"{tag}: run.main returned {rc}")
                return None
            fails, sizes = fkd_site.check_output(site, base, out)
            bad = {cid for cid, _ in fails}
            n_bad = n if "*" in bad else len(bad)
            self.failed += n_bad
            for cid, msg in fails[:10]:
                self.fail(f"{tag}: {cid}: {msg}")
            self.sizes = sizes
            shutil.rmtree(out, ignore_errors=True)
            return dt

        if self.trace:
            self.instrument_run()
        for i in range(self.timed_ops()):
            tag = f"crawl{i}"
            dt = crawl(tag)
            if dt is None:
                break
            crawls.append(dt)
            self.ops.append({"op": tag, "wall_s": dt})
        if not crawls:
            return {}
        n_cases = len(site.expected)
        med = statistics.median(crawls)
        counts = site.counts()
        out_bytes = self.sizes["json_bytes"] + self.sizes["pdf_bytes"] + self.sizes["manifest_bytes"]
        self.pipeline = {
            "cli_cases_per_s": n_cases / med,
            "output_bytes_per_case": out_bytes / counts["success"],
        }
        self.detail["crawls_s"] = crawls
        self.detail["sizes"] = self.sizes
        self.detail["server"] = srv.snapshot()
        return {"ops_per_s": n_cases / med, "op_p50_s": med}

    def instrument_run(self) -> None:
        """Time the stages run.main calls, in its order, by wrapping the
        module attributes it looks up (the package is not modified)."""
        from shippai_knowledge_etl_spark import run
        from shippai_knowledge_etl_spark.sources import sinks

        spans = self.spans

        def wrap(mod, attr: str, name: str, materialize: bool = False):
            fn = getattr(mod, attr)

            def timed(*a, **kw):
                with spans.span(name):
                    out = fn(*a, **kw)
                    if materialize:
                        out = out.cache()
                        out.write.format("noop").mode("overwrite").save()
                return out

            setattr(mod, attr, timed)

        wrap(run, "expand_worklist", "run.expand_worklist_s")
        wrap(run, "process_cases", "run.process_cases_s", materialize=True)
        wrap(sinks, "write_cases_json_named", "sinks.write_cases_json_named_s")
        wrap(run, "_render_pdfs", "run.render_pdfs_s")
        wrap(sinks, "write_manifest_streamed", "sinks.write_manifest_streamed_s")

    def cli_layers(self) -> None:
        import fkd_site
        from pyspark.sql import functions as F
        from shippai_knowledge_etl_spark.operators import diagram
        from shippai_knowledge_etl_spark.sources.fetch import fetched_pages

        ops = {o["op"] for o in self.ops}
        n = max(1, len(ops))
        stages = ("run.expand_worklist_s", "run.process_cases_s",
                  "sinks.write_cases_json_named_s", "run.render_pdfs_s",
                  "sinks.write_manifest_streamed_s")
        for s in stages:
            self.layer[s] = self.spans.total(s, ops) / n
        self.layer["run.driver_gap_s"] = (
            self.spans.total("run.main", ops) / n - sum(self.layer[s] for s in stages))
        snap = self.server.snapshot()
        for cls in fkd_site.URL_CLASSES:
            c = snap[cls]
            self.layer[f"fetch.requests.{cls}"] = c["requests"] / n
            self.layer[f"fetch.distinct_urls.{cls}"] = c["distinct_urls"]
            self.layer[f"fetch.requests_per_url.{cls}"] = (
                c["requests"] / n / c["useful_urls"] if c["useful_urls"] else 0.0)
            self.layer[f"fetch.bytes.{cls}"] = c["bytes"] / n
            self.layer[f"fetch.server_service_s.{cls}"] = c["service_s"] / n
            self.layer[f"fetch.max_inflight.{cls}"] = c["max_inflight"]
        # fetch layer alone: the case worklist through fetched_pages
        urls = [(self.server.base + e["path"],) for e in self.site.expected.values()]
        self.group("probe:fetch")
        df = self.spark.createDataFrame(urls, "url string").select(
            fetched_pages(F.col("url")).alias("page"))
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        self.layer["fetch.busy_s"] = time.perf_counter() - t
        # diagram layer alone: the successes' scenarios through draw_ops
        scen = [(cid, e["record"]["scenario"]) for cid, e in self.site.expected.items()
                if e["status"] == "success"]
        self.group("probe:diagram")
        sdf = self.spark.createDataFrame(
            scen, "doc_id string, scenario struct<cause: array<array<string>>, "
                  "action: array<array<string>>, result: array<array<string>>>")
        t = time.perf_counter()
        ops_df = diagram.draw_ops(diagram.positioned_items_chunked(sdf, "doc_id"), "doc_id").cache()
        self.layer["diagram.draw_ops_rows"] = ops_df.count()
        self.layer["diagram.draw_ops_s"] = time.perf_counter() - t
        ops_df.unpersist()
        self.functions_layer()
        s = self.sizes
        want = self.site.counts()
        for k in ("success", "excluded", "error"):
            self.layer[f"quality.n_{k}"] = s["summary"].get(f"n_{k}", 0)
            self.layer[f"quality.n_{k}_expected"] = want[k]
        self.layer.update({
            "pdf_writer.pdfs": s["pdfs"], "pdf_writer.pages": s["pdf_pages"],
            "pdf_writer.bytes": s["pdf_bytes"], "sinks.json_files": s["json_files"],
            "sinks.json_bytes": s["json_bytes"], "sinks.manifest_bytes": s["manifest_bytes"],
        })

    def functions_layer(self) -> None:
        """The scalar/nested/listparse columns process_cases builds,
        applied alone to the generated case and scenario pages. The pages
        are parsed and cached first (untimed); then the columns are
        noop-materialised FUNCTIONS_REPS times and the median is kept.
        Their values are checked against the generator's records. The
        label lookup and scenario assembly are rebuilt here from the
        public functions, because run's own helpers are private."""
        from pyspark.sql import functions as F
        from shippai_knowledge_etl_spark.functions import listparse, nested, scalar
        from shippai_knowledge_etl_spark.sources.html_parse import (
            case_page_facets, scenario_page_facts)

        site, base = self.site, self.server.base
        cases = {cid: e for cid, e in site.expected.items() if e["status"] != "error"}
        pages = [(base + e["path"], site.pages[e["path"]].decode("utf-8"),
                  site.pages[e["scenario_path"]].decode("utf-8")) for e in cases.values()]
        self.group("probe:functions")
        parsed = self.spark.createDataFrame(pages, "url string, case string, scen string").select(
            "url", case_page_facets(F.col("case")).alias("p"),
            scenario_page_facts(F.col("scen")).alias("s")).cache()
        parsed.count()

        def val(label: str):
            hits = F.filter(F.col("p.rows"), lambda r: (r.getField("label") == label)
                            & (F.upper(r.getField("bgcolor")) == "#DFE9F2"))
            return F.coalesce(F.try_element_at(hits, F.lit(1)).getField("value"), F.lit(""))

        items = nested.sort_items_by_num(F.col("s.items"))
        doubles = F.array_sort(F.transform(
            F.filter(F.col("s.seps"), lambda x: x.getField("kind") == "double"),
            lambda x: scalar.separator_item_after(x.getField("width"))))
        cats = nested.slice_categories(items, doubles)
        scenario = F.struct(*(nested.chunk(cats.getField(k)).alias(k)
                              for k in ("cause", "action", "result")))
        mm = nested.dedup_preserving_order(F.concat(F.col("p.mm_label_links"), F.col("p.mf_links")))
        cols = {
            "case_id": scalar.case_id_from_url(F.col("url")),
            "date": scalar.normalize_jp_date(scalar.trim_ws(val("事例発生日付"))),
            **{k: scalar.paragraphs(val(label)) for k, label in (
                ("process", "経過"), ("cause", "原因"), ("response", "対処"),
                ("countermeasure", "対策"), ("background", "背景"))},
            "knowledge": listparse.parse_knowledge(val("知識化")),
            "sources": scalar.split_nonblank(val("情報源")),
            "casualties": F.struct(scalar.leading_int(val("死者数")).alias("deaths"),
                                   scalar.leading_int(val("負傷者数")).alias("injuries")),
            "authors": scalar.split_nonblank(scalar.normalize_nbsp(
                scalar.paragraphs(val("データ作成者")))),
            "scenario": scenario,
            "has_scenario": nested.scenario_presence(scenario),
            "scenario_url": scalar.resolve_url(
                F.col("url"), F.coalesce(F.col("p.scenario_row_href"), F.col("p.sf_href"))),
            "images": F.struct(
                F.coalesce(scalar.basename(F.col("p.rep_image_src")), F.lit("")).alias("representative"),
                F.transform(mm, lambda m: F.struct(scalar.stem(m.getField("href")).alias("id"),
                                                   m.getField("caption").alias("caption")))
                .alias("multimedia")),
        }
        out = parsed.select(*(c.alias(k) for k, c in cols.items()))
        times = []
        for _ in range(FUNCTIONS_REPS):
            t = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        got = {r["case_id"]: r.asDict(recursive=True) for r in out.collect()}
        parsed.unpersist()
        self.layer["functions.columns_s"] = statistics.median(times)
        self.layer["functions.rows"] = len(got)
        for cid, e in cases.items():
            row = got.get(cid)
            if row is None:
                self.fail(f"functions probe: no row for {cid}")
                continue
            want = e["record"]
            for k in ("date", "process", "cause", "response", "countermeasure", "background",
                      "knowledge", "sources", "casualties", "scenario", "images"):
                if row[k] != want[k]:
                    self.fail(f"functions probe: {cid}: {k} {row[k]!r} != {want[k]!r}")
                    break
            if not row["has_scenario"] or row["scenario_url"] != base + e["scenario_path"]:
                self.fail(f"functions probe: {cid}: scenario {row['has_scenario']} "
                          f"{row['scenario_url']}")

    # -- catalog mixes

    def run_catalog(self, names: tuple[str, ...]) -> dict:
        pins = load_pins()
        sf_dir = self.sf_dir
        rng = random.Random(self.args.seed)
        lat: list[float] = []
        self.detail["queries"] = {q: {"latency_s": []} for q in names}

        def one_pass(tag: str, timed: bool) -> None:
            order = list(names)
            rng.shuffle(order)
            results = []
            for q in order:
                gid = f"{tag}:{q}"
                self.group(gid)
                self.attempted += 1
                try:
                    with self.spans.span("query"):
                        t = time.perf_counter()
                        pdf = self.catalog[q].fn(self.spark, sf_dir).toPandas()
                        dt = time.perf_counter() - t
                except Exception as e:  # a raising query is a failed op
                    self.failed += 1
                    self.fail(f"{gid}: {type(e).__name__}: {str(e)[:300]}")
                    self.persistent_rdds()
                    continue
                self.persistent_rdds()
                results.append((gid, q, pdf))
                if timed:
                    lat.append(dt)
                    self.detail["queries"][q]["latency_s"].append(dt)
                    self.ops.append({"op": gid, "query": q, "wall_s": dt})
            # result checks run after the pass, outside the timed spans
            for gid, q, pdf in results:
                got = result_digest(pdf)
                want = pins.get(q)
                if want is None or [want["rows"], want["hash"]] != list(got):
                    self.failed += 1
                    self.fail(f"{gid}: result {got} != pin {want}")

        for i in range(CATALOG_WARMUP_PASSES):
            one_pass(f"warmup{i}", timed=False)
        for k in range(self.timed_ops()):
            one_pass(f"pass{k}", timed=True)
        if not lat:
            return {}
        value, pct, n = tail(lat)
        self.pipeline = {
            "queries_per_s": len(lat) / sum(lat),
            "query_p50_s": statistics.median(lat),
            "query_tail_s": value, "query_tail_percentile": pct, "query_tail_samples": n,
        }
        return {"ops_per_s": len(lat) / sum(lat), "op_p50_s": statistics.median(lat)}

    # -- per-layer folding

    def html_parse_layer(self) -> None:
        """In-process case/scenario page parse rate over the generated
        pages, and the share of pages the fast scanner handed to
        ``HTMLParser.feed`` (counted by wrapping the stdlib method)."""
        from html.parser import HTMLParser

        from shippai_knowledge_etl_spark.sources import html_parse

        calls = [0]
        orig = HTMLParser.feed

        def counting_feed(self, data):
            calls[0] += 1
            return orig(self, data)

        HTMLParser.feed = counting_feed
        try:
            for fn, pages, key in (
                (html_parse.parse_case_page, self.site.case_html, "case"),
                (html_parse.parse_scenario_page, self.site.scenario_html, "scenario"),
            ):
                reps = 0
                t = time.perf_counter()
                while reps < 3 or time.perf_counter() - t < 0.5:
                    for p in pages:
                        fn(p)
                    reps += 1
                self.layer[f"html_parse.{key}_pages_per_s"] = (
                    reps * len(pages) / (time.perf_counter() - t))
            calls[0] = 0
            pages = self.site.case_html + self.site.scenario_html
            for p in self.site.case_html:
                html_parse.parse_case_page(p)
            for p in self.site.scenario_html:
                html_parse.parse_scenario_page(p)
            self.layer["html_parse.fallback_share"] = calls[0] / len(pages)
        finally:
            HTMLParser.feed = orig

    def engine_layers(self) -> None:
        import sparktrace

        groups = sparktrace.parse(self.eventlog)
        shutil.rmtree(self.eventlog, ignore_errors=True)
        keys = ("jobs", "tasks", "scheduler_delay_s", "executor_run_s", "executor_cpu_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_write_s",
                "spill_bytes", "gc_s")
        pykeys = ("worker_start_s", "worker_init_s", "run_s", "bytes_sent", "bytes_returned")
        tot = dict.fromkeys(keys, 0.0)
        py = dict.fromkeys(pykeys, 0.0)
        driver = busy = wall = 0.0
        per_op = {}
        for o in self.ops:
            g = groups.get(o["op"])
            if g is None:
                continue
            for k in keys:
                tot[k] += g[k]
            for k in pykeys:
                py[k] += g["python"][k]
            driver += max(0.0, o["wall_s"] - g["job_span_union_s"])
            busy += g["executor_run_s"]
            wall += o["wall_s"]
            per_op[o["op"]] = {**{k: g[k] for k in keys}, "python": g["python"],
                               "python_nodes": g["python_nodes"],
                               "driver_s": max(0.0, o["wall_s"] - g["job_span_union_s"])}
        n = max(1, len(per_op))
        for k in keys:
            self.layer[f"spark.{k}"] = tot[k] / n
        self.layer["spark.driver_s"] = driver / n
        self.layer["spark.slot_busy_share"] = busy / (wall * self.cpus) if wall else 0.0
        for k in pykeys:
            self.layer[f"python.{k}"] = py[k] / n
        self.detail["engine_per_op"] = per_op
        # plan class: asserted from every job of every query, warm-up too
        wl = self.args.workload
        if wl in CATALOG:
            violations = 0
            for q in CATALOG[wl]:
                nodes = sorted({nd for gid, g in groups.items() if gid.endswith(":" + q)
                                for nd in g["python_nodes"]})
                ran = [gid for gid in groups if gid.endswith(":" + q)]
                bad = (wl == "catalog_jvm" and nodes) or (wl == "catalog_arrow" and not nodes)
                if bad or not ran:
                    violations += 1
                    self.failed += 1
                    self.fail(f"plan class: {q} in {wl} ran Python nodes {nodes}")
                self.detail["queries"][q]["python_nodes"] = nodes
            self.layer["plan.class_violations"] = violations


# ---------------------------------------------------------------- pins


def load_pins() -> dict:
    with open(PINS, encoding="utf-8") as f:
        return json.load(f)["queries"]


def write_pins(bench: Bench) -> None:
    pins = {}
    for q in (*JVM_QUERIES, *ARROW_QUERIES):
        digests = set()
        for _ in range(2):  # a pin must be reproducible within a session
            digests.add(result_digest(bench.catalog[q].fn(bench.spark, bench.sf_dir).toPandas()))
        if len(digests) != 1:
            raise SystemExit(f"{q}: result is not deterministic: {digests}")
        rows, h = digests.pop()
        pins[q] = {"rows": rows, "hash": h}
        print(q, rows, h, file=sys.stderr)
    import datagen

    doc = {"data_seed": datagen.DATA_SEED, "sf": datagen.SF, "queries": pins}
    with open(PINS, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


# ---------------------------------------------------------------- main


def load_metrics() -> dict:
    """BENCHMARK.json's metric lists, each metric joined with its entry in
    metrics.json (the workloads it applies to, its definition or the
    end-to-end metric it should move)."""
    with open(os.path.join(HERE, "metrics.json"), encoding="utf-8") as f:
        extra = json.load(f)["metrics"]
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    return {key: [{**m, **extra[m["name"]]} for m in bench[key]]
            for key in ("end_to_end", "per_layer")}


def code_digest() -> str:
    """Digest of the package's and the benchmark's Python sources, so
    runs of the same code can be told apart without git."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for dirpath, _, names in sorted(os.walk(top)):
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(dirpath, n)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", action="store_true", help="rewrite pins.json")
    args = p.parse_args()
    if not args.pin and args.workload is None:
        p.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    meta = load_metrics()

    b = Bench(args)
    b.environment()
    import datagen
    import fkd_site

    # inputs (excluded from set-up time)
    t_gen = time.perf_counter()
    b.sf_dir = datagen.write(os.path.join(WORK, "data"))
    b.site = fkd_site.build_site(args.seed)
    b.server = fkd_site.CountingServer(b.site, threads=b.cpus)
    gen_s = time.perf_counter() - t_gen

    rss = RssSampler()
    rss.start()
    try:
        b.setup()
        setup_s = time.perf_counter() - T0 - gen_s
        if args.pin:
            write_pins(b)
            return 0
        if args.workload == "cli_crawl":
            e2e = b.run_cli()
        else:
            e2e = b.run_catalog(CATALOG[args.workload])
        if b.trace and args.workload == "cli_crawl" and b.ops:
            b.cli_layers()
        if b.trace:
            b.html_parse_layer()
        b.layer["session.persistent_rdds_end"] = b.persistent_rdds()
        b.layer["session.queries_leaving_cache"] = b.leaks
    finally:
        try:
            b.stop()
        finally:
            rss.stop()
            b.server.close()

    if b.trace:
        b.engine_layers()
    import pyspark

    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = rss.peak / 2**20
    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "cpus": b.cpus, "sf": datagen.SF,
             "data_seed": datagen.DATA_SEED, "spark": pyspark.__version__,
             "driver_memory": b.driver_memory, "driver_java_options": b.java_opts,
             "code": code_digest()}
    history = os.path.join(WORK, "history", f"{args.workload}.jsonl")
    if b.trace:
        # tracing overhead: against the untraced runs of the same code
        untraced = []
        if os.path.exists(history):
            with open(history, encoding="utf-8") as f:
                runs = [json.loads(line) for line in f]
            untraced = [r["op_p50_s"] for r in runs if r.get("code") == stamp["code"]]
        traced_p50 = statistics.median(o["wall_s"] for o in b.ops) if b.ops else 0.0
        b.layer["trace.op_p50_s"] = traced_p50
        b.layer["trace.untraced_samples"] = len(untraced)
        b.layer["trace.overhead_share"] = (
            traced_p50 / statistics.median(untraced) - 1.0 if untraced else 0.0)

    listed = meta["per_layer"] if b.trace else meta["end_to_end"]
    values = b.layer if b.trace else e2e
    for m in listed:
        applies = m["workloads"] == "all" or args.workload in m["workloads"]
        if applies and m["name"] not in values and b.ops:
            b.fail(f"metric {m['name']} was not measured")
    correct = not b.failures and bool(b.ops)
    # a metric that does not apply to the workload reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in listed}
    if correct and not b.trace:
        with open(history, "a", encoding="utf-8") as f:
            f.write(json.dumps({**stamp, "op_p50_s": e2e["op_p50_s"]}) + "\n")
    pipeline = dict(b.pipeline, setup_s=setup_s, peak_rss_mb=e2e["peak_rss_mb"],
                    failed_ops_share=b.failed / max(1, b.attempted))
    artifact = {**stamp, "correct": correct, "attempted": b.attempted, "failed": b.failed,
                "failures": b.failures[:50], "end_to_end": e2e, "pipeline_metrics": pipeline,
                "layers": b.layer, "detail": b.detail, "spans": b.spans.items,
                "span_self_s": b.spans.self_times(), "generation_s": gen_s}
    path = os.path.join(WORK, "artifacts",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(artifact, f, indent=1, default=str)
    print("pipeline metrics " + json.dumps({**stamp, **pipeline}))
    print(json.dumps({"correct": correct, "attempted": b.attempted, "failed": b.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
