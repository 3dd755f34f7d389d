"""CLI entry point — the reference's ``run.py`` UX on the Spark engine.

Mirrors ``/root/reference/src/run.py`` (usage at :4-13, arg parsing
:37-57, worklist routing :66-81, per-case loop :86-133, manifest
:122-146) as one declarative pipeline:

    python -m shippai_knowledge_etl_spark.run URL [URL...] \
        [--limit N] [--output-dir DIR] [--pdf]

Routing (src/run.py:66-77) runs on the driver over argv: ``/lis/``
list pages are expanded by fetching and parsing their ``ul.list_all``
anchor list (S2, src/extract.py:396-407) with ``--limit`` case links
kept per list; ``/cf/`` URLs are direct case pages; anything else warns
and is skipped. The manifest keeps argv order, each list's cases in its
argv slot. An empty worklist exits 1 (src/run.py:79-81).

Where the reference loops sequentially with 30 s timeouts per fetch,
the worklist here is a DataFrame and the fetches fan out
partition-parallel (errors are data, never task failures). Each page
kind crosses into Python ONCE: ``fetch_parsed`` fetches and parses the
page in one Arrow-batched UDF, pinned to one call per row by a Generate
barrier — one stage for all list pages (behind one eager checkpoint),
then two per case (case page, scenario page). Everything downstream is
column expressions: the scenario sub-page (S3) is decoded Spark-side
(F19 separator decode → O1 ordinal sort → W2 boundary slice → W1
chunk-by-3), multimedia links are merged and order-preserving-deduped
(P7/J3/O3), dates normalize via
F1, casualty counts via F2, knowledge via the F6 fold, and validation /
status partitioning is the same column logic the driver-verified
queries use (P10/U2/A1).

The case records are materialised once (an eager local checkpoint);
the sinks plan against that flat relation. Artifacts match the
reference's contract: one full NESTED case record per success as
``{case_id}_{case_name}.json`` (requirements.md:107-142,
src/extract.py:417), a ``results_NNN.json`` run manifest with per-case
entries + summary (src/run.py:122-146) written with the entries
STREAMED from a distributed Spark write (no per-case driver collect),
and optionally one PDF per success via the dependency-free emitter
(``--pdf``). ``main`` releases both checkpoints before it returns, so a
crawl leaves no persisted state in a long-lived session.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shippai_knowledge_etl_spark.functions import listparse, nested, scalar
from shippai_knowledge_etl_spark.operators import quality
from shippai_knowledge_etl_spark.sources import sinks
from shippai_knowledge_etl_spark.sources.fetch import fetch_parsed
from shippai_knowledge_etl_spark.sources.html_parse import (
    CASE_PAGE_SCHEMA,
    LINKS_TYPE,
    SCENARIO_PAGE_SCHEMA,
    parse_case_page,
    parse_list_page,
    parse_scenario_page,
)

# src/extract.py:14-20 — HTML label → JSON key for required fields
REQUIRED_FIELDS = {
    "事例概要": "summary",
    "経過": "process",
    "原因": "cause",
    "対策": "countermeasure",
    "シナリオ": "scenario",
}
CASE_NAME_LABEL = "事例名称"  # src/extract.py:132

# get_text fields (single-line prose, src/extract.py:100-107) vs
# get_html_text fields (paragraph re-segmented, src/extract.py:109-130)
_TEXT_FIELDS = {
    "case_name": CASE_NAME_LABEL,
    "location": "事例発生地",
    "facility": "事例発生場所",
    "summary": "事例概要",
    "phenomenon": "事象",
    "financial_damage": "被害金額",
    "social_impact": "社会への影響",
    "notes": "備考",
    "field": "分野",
}
_PARA_FIELDS = {
    "process": "経過",
    "cause": "原因",
    "response": "対処",
    "countermeasure": "対策",
    "background": "背景",
}


def _list_links(html: str) -> dict:
    return {"links": parse_list_page(html)}


_fetch_list_page = fetch_parsed(
    _list_links, T.StructType([T.StructField("links", LINKS_TYPE)])
)
_fetch_case_page = fetch_parsed(parse_case_page, CASE_PAGE_SCHEMA)
_fetch_scenario_page = fetch_parsed(parse_scenario_page, SCENARIO_PAGE_SCHEMA)


def expand_worklist(
    spark: SparkSession, urls: list[str], limit: int | None
) -> DataFrame:
    """argv URLs → one row per case URL: ``case_url`` plus ``seq``, the
    (argv position, link index) pair the manifest is ordered by. That
    is the reference's ``extend``/``append`` loop order
    (src/run.py:66-77): each list's cases sit in its argv slot, in link
    order, and a direct ``/cf/`` URL in its own slot.

    Routing and the skip warnings run on the driver. All list pages are
    fetched, parsed and exploded in one Python stage behind ONE eager
    checkpoint, so the case pipeline never re-triggers a list fetch
    through lineage; the failed-list warnings are read back from the
    checkpointed rows. The caller releases the checkpoint
    (``drop_checkpoints``)."""
    # P6 routing (src/run.py:66-77) in Python: argv is a driver list.
    # The column form of the predicate stays covered by the catalog
    # queries (queries/nested.py, queries/combined.py).
    direct, lists = [], []
    for pos, url in enumerate(urls):
        if "/lis/" in url:
            lists.append((pos, url))
        elif "/cf/" in url:
            direct.append((pos, 0, url))
        else:
            print(f"warning: unrecognized URL pattern, skipping: {url}",
                  file=sys.stderr)
    worklist = spark.createDataFrame(direct, "arg int, link int, case_url string")
    if lists:
        expanded = _expand_lists(spark, lists, limit).localCheckpoint(eager=True)
        # a failed list fetch must be LOUD, not an empty expansion
        # (reference surfaces list-expansion failures, src/run.py:66-77);
        # at most one row per argv list URL reaches the driver
        for r in expanded.filter(F.col("fetch_error").isNotNull()).collect():
            print(
                f"warning: list page fetch failed ({r.fetch_error}), "
                f"0 cases expanded: {r.url}",
                file=sys.stderr,
            )
        worklist = worklist.unionByName(
            expanded.filter(F.col("link").isNotNull()).select(
                "arg", "link", "case_url"
            )
        )
    return worklist.select(F.struct("arg", "link").alias("seq"), "case_url")


def _expand_lists(
    spark: SparkSession, lists: list[tuple[int, str]], limit: int | None
) -> DataFrame:
    """(argv position, list URL) → (arg, url, fetch_error, link,
    case_url) rows, one per ``/cf/`` anchor of the page's
    ``ul.list_all`` (S2, src/extract.py:396-407), at most ``limit`` per
    list. posexplode_outer keeps one null-link row for a list that
    failed or has no case links, so its fetch error stays readable."""
    links = F.filter(
        F.col("__l.links"), lambda r: r.getField("href").contains("/cf/")
    )
    if limit is not None:
        links = F.slice(links, 1, limit)
    return (
        spark.createDataFrame(lists, "arg int, url string")
        .select(
            "arg", "url",
            F.explode(F.array(_fetch_list_page(F.col("url")))).alias("__l"),
        )
        .select(
            "arg", "url", F.col("__l.fetch_error").alias("fetch_error"),
            F.posexplode_outer(links).alias("link", "r"),
        )
        .select(
            "arg", "url", "fetch_error", "link",
            scalar.resolve_url(F.col("url"), F.col("r.href")).alias("case_url"),
        )
    )


def drop_checkpoints(df: DataFrame) -> None:
    """Release the local checkpoints ``df`` reads. ``unpersist()`` does
    not: a local checkpoint is no CacheManager entry but the persisted
    RDD under a ``LogicalRDD`` leaf of the plan."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def _first_val(rows: F.Column, label: str) -> F.Column:
    """First occurrence of a label among the bgcolor-sentinel rows —
    raw value (``<br>`` already mapped to newline by the parser)."""
    hits = F.filter(rows, lambda r: r.getField("label") == F.lit(label))
    return F.coalesce(
        F.try_element_at(hits, F.lit(1)).getField("value"), F.lit("")
    )


def _single_line(col: F.Column) -> F.Column:
    """``get_text`` analog (src/extract.py:100-107): join the value's
    lines without separators (bs4's strip=True drops the whitespace-only
    fragments the <br> substitution produced)."""
    return scalar.trim_ws(F.regexp_replace(col, r"[ \t]*\n[ \t]*", ""))


def _scenario_struct(facts: F.Column) -> F.Column:
    """Scenario-page facts → the nested scenario value
    (requirements.md:126-131) entirely in column expressions:
    F19 decodes each double-line separator's spacer width into a
    1-based item boundary, O1 sorts items by ordinal, W2 slices at the
    boundaries into (cause, action, result), W1 chunks each category
    into groups of 3 (src/extract.py:343-377)."""
    items = nested.sort_items_by_num(facts.getField("items"))
    doubles = F.array_sort(
        F.transform(
            F.filter(
                facts.getField("seps"),
                lambda s: s.getField("kind") == "double",
            ),
            lambda s: scalar.separator_item_after(s.getField("width")),
        )
    )
    cats = nested.slice_categories(items, doubles)
    return F.struct(
        nested.chunk(cats.getField("cause")).alias("cause"),
        nested.chunk(cats.getField("action")).alias("action"),
        nested.chunk(cats.getField("result")).alias("result"),
    )


def process_cases(cases_urls: DataFrame) -> DataFrame:
    """case URL → full nested, validated record with status (never
    throws: fetch failures → status 'error', missing required fields →
    'excluded'). Column order of the produced record follows the output
    contract (requirements.md:107-142)."""
    # one Python stage per page: the fetch and the parse are fused
    # (fetch_parsed), and the Generate barrier pins ONE call per row
    parsed = cases_urls.select(
        "seq",
        F.col("case_url"),
        scalar.case_id_from_url(F.col("case_url")).alias("case_id"),
        F.explode(F.array(_fetch_case_page(F.col("case_url")))).alias("__p"),
    )

    rows = F.filter(
        F.col("__p.rows"),
        lambda r: F.upper(r.getField("bgcolor")) == "#DFE9F2",
    )

    # scenario sub-page: labeled-row link first, page-wide /sf/ anchor
    # as fallback (O4 first-match, src/extract.py:197-210); the S3
    # fetch+parse is the second Python stage. No link → null URL → no
    # request, an empty scenario and a null fetch_error
    scen_href = F.coalesce(
        F.col("__p.scenario_row_href"), F.col("__p.sf_href")
    )
    scen_url = F.when(
        scen_href.isNotNull(),
        scalar.resolve_url(F.col("case_url"), scen_href),
    )
    staged = parsed.select(
        "seq", "case_url", "case_id", "__p",
        rows.alias("__rows"),
        F.explode(F.array(_fetch_scenario_page(scen_url))).alias("__s"),
    )

    # multimedia: labeled-row links ++ page-wide /mf/ scan, first-
    # occurrence dedup on (href, caption) pairs (P7/J3 merge + O3,
    # src/extract.py:73-97,217-227), then id = stem(basename) (P9)
    mm_pairs = nested.dedup_preserving_order(
        F.concat(F.col("__p.mm_label_links"), F.col("__p.mf_links"))
    )
    multimedia = F.transform(
        mm_pairs,
        lambda l: F.struct(
            scalar.stem(l.getField("href")).alias("id"),
            l.getField("caption").alias("caption"),
        ),
    )
    images = F.struct(
        F.coalesce(
            scalar.basename(F.col("__p.rep_image_src")), F.lit("")
        ).alias("representative"),
        multimedia.alias("multimedia"),
    )

    fields: dict[str, F.Column] = {}
    for name, label in _TEXT_FIELDS.items():
        fields[name] = _single_line(_first_val(rows, label))
    for name, label in _PARA_FIELDS.items():
        fields[name] = scalar.paragraphs(_first_val(rows, label))
    fields["date"] = scalar.normalize_jp_date(
        _single_line(_first_val(rows, "事例発生日付"))
    )
    fields["knowledge"] = listparse.parse_knowledge(_first_val(rows, "知識化"))
    fields["scenario"] = _scenario_struct(F.col("__s"))
    fields["images"] = images
    fields["sources"] = scalar.split_nonblank(_first_val(rows, "情報源"))
    fields["casualties"] = F.struct(
        scalar.leading_int(_first_val(rows, "死者数")).alias("deaths"),
        scalar.leading_int(_first_val(rows, "負傷者数")).alias("injuries"),
    )
    fields["authors"] = scalar.split_nonblank(
        scalar.normalize_nbsp(scalar.paragraphs(_first_val(rows, "データ作成者")))
    )

    # output-contract column order (requirements.md:107-142) — the
    # single module-level list, so the record builder and the JSON sink
    # selection can never drift apart
    record_order = RECORD_COLUMNS
    named = dict(fields)
    named["url"] = F.col("case_url")
    named["case_id"] = F.col("case_id")
    # a present-but-failed scenario fetch aborts the case like the
    # reference's raise_for_status inside parse_scenario_page
    # (src/extract.py:284-286 → run.py:113-120 generic error)
    wide = staged.select(
        "seq",
        F.col("case_url"),
        F.col("__p.fetch_error").alias("fetch_error"),
        F.col("__s.fetch_error").alias("scen_error"),
        *[named[c].alias(c) for c in record_order],
    )

    # required-field validation (src/extract.py:262-279): text fields
    # must be non-empty; scenario needs any populated category (P11).
    # Missing entries are reported as the reference's HTML labels.
    required = {}
    for label, key in REQUIRED_FIELDS.items():
        if key == "scenario":
            required[label] = ~nested.scenario_presence(F.col("scenario"))
        else:
            required[label] = F.col(key) == ""
    return quality.with_status(
        wide,
        required,
        error_when=F.col("fetch_error").isNotNull()
        | F.col("scen_error").isNotNull(),
    )


RECORD_COLUMNS = (
    "case_id", "case_name", "url", "date", "location", "facility",
    "summary", "phenomenon", "process", "cause", "response",
    "countermeasure", "knowledge", "background", "scenario", "images",
    "sources", "casualties", "financial_damage", "social_impact",
    "notes", "field", "authors",
)


_PAGE_W, _PAGE_H = 2100, 2970  # tenth-mm, A4


def _pdf_op(page, section: int, seq, opname: str, x: float, y, **kw) -> F.Column:
    """One draw-op struct in the uniform sink schema. ``page`` and
    ``seq``/``y`` accept Columns for data-dependent placement."""
    nd = F.lit(None).cast("double")
    as_col = lambda v, t: (  # noqa: E731
        v if isinstance(v, F.Column) else F.lit(v).cast(t)
    )
    return F.struct(
        as_col(page, "int").alias("page"),
        F.lit(section).alias("section"),
        as_col(seq, "int").alias("seq"),
        F.lit(opname).alias("op"),
        F.lit(float(x)).alias("x"),
        as_col(float(y) if not isinstance(y, F.Column) else y, "double").alias("y"),
        kw.get("x2", nd).alias("x2"),
        kw.get("y2", nd).alias("y2"),
        kw.get("w", nd).alias("w"),
        kw.get("h", nd).alias("h"),
        kw.get("fill", F.lit(None).cast("string")).alias("fill"),
        kw.get("label", F.lit(None).cast("string")).alias("label"),
        kw.get("img", F.lit(None).cast("binary")).alias("img"),
    )


def _render_pdfs(successes: DataFrame, out_dir: str) -> None:
    """Per-case composite report through the S6 emitter, mirroring the
    reference's section flow (src/render_pdf.py:324-471):

      flow pages (page = -1) — title, labeled fields, representative
               image (S4-fetched, scale-to-fit, failure placeholder,
               src/render_pdf.py:361-365,96-118), every prose section
               at FULL length, sources (URLs hyperlinked,
               src/render_pdf.py:423-435), casualties and trailing
               fields — laid out by the emitter's measured-height flow
               (wrap + pagination), the Paragraph-flowable model;
      then the diagonal scenario diagram page (bars, separator lines,
               category braces) when scenario structure is present
               (src/render_pdf.py:393-408, operators/diagram.py);
      then one multimedia image per page with its caption, URL guessed
               as ``../mf/{id}.jpg`` like the reference
               (src/render_pdf.py:411-420).

    All geometry is relational draw-ops rows; image bytes ride a binary
    column fetched partition-parallel inside the sink's single action.
    """
    from shippai_knowledge_etl_spark.operators import diagram
    from shippai_knowledge_etl_spark.sources.fetch import fetch_binary

    box_w = float(_PAGE_W - 200)  # text box inside 100-tmm side margins

    def _head(
        sec: int, label: str | F.Column, seq: int = 0, h2: bool = False
    ) -> F.Column:
        """``h2=True`` for the headings the reference styles JP_H2
        (background fill + 13 pt, src/render_pdf.py:43-53,363,425,440);
        labeled one-liner fields stay plain text (JP_Label class)."""
        lbl = F.lit(label) if isinstance(label, str) else label
        if h2:
            return _pdf_op(-1, sec, seq, "h2", 100, 0.0,
                           w=F.lit(box_w), label=lbl)
        return _pdf_op(-1, sec, seq, "text", 100, 0.0, label=lbl)

    def _body(sec: int, text: F.Column, seq: int = 1) -> F.Column:
        return _pdf_op(-1, sec, seq, "para", 100, 0.0,
                       w=F.lit(box_w), label=text)

    # --- flow content, reference section order ---
    ops: list[F.Column] = [_head(0, F.col("case_name"))]
    labeled = [("事例発生日付", "date"), ("事例発生地", "location"),
               ("事例発生場所", "facility")]
    for i, (jp, key) in enumerate(labeled):
        ops.append(F.when(
            F.col(key) != "",
            _head(1 + i, F.concat(F.lit(f"{jp}："), F.col(key))),
        ))
    has_rep = F.col("images.representative") != ""
    rep_url = F.when(
        has_rep,
        scalar.resolve_url(
            F.col("url"),
            F.concat(F.lit("../df/"), F.col("images.representative")),
        ),
    )
    ops.append(F.when(has_rep, _head(4, "代表図", h2=True)))
    ops.append(F.when(
        has_rep,
        _pdf_op(-1, 4, 1, "image", 100, 0.0,
                w=F.lit(1600.0), h=F.lit(1100.0),
                img=fetch_binary(rep_url).getField("content"),
                label=F.lit("代表図")),
    ))
    prose = [
        ("事例概要", F.col("summary")),
        ("事象", F.col("phenomenon")),
        ("経過", F.col("process")),
        ("原因", F.col("cause")),
        ("対処", F.col("response")),
        ("対策", F.col("countermeasure")),
        ("知識化", F.array_join(
            F.transform(F.col("knowledge"),
                        lambda k: F.concat(F.lit("・"), k)), "\n")),
        ("背景", F.col("background")),
    ]
    for i, (jp, text) in enumerate(prose):
        sec = 5 + i
        present = text != ""
        ops.append(F.when(present, _head(sec, jp, h2=True)))
        ops.append(F.when(present, _body(sec, text)))
    # sources: one paragraph per line, URLs become live hyperlinks in
    # the emitter (blue + underline + /Annots /URI)
    ops.append(F.when(F.size(F.col("sources")) > 0,
                      _head(13, "情報源", h2=True)))
    # casualties + trailing labeled fields (src/render_pdf.py:436-466)
    ops.append(_head(14, "被害情報", h2=True))
    ops.append(F.when(
        F.col("casualties.deaths").isNotNull(),
        _head(14, F.concat(F.lit("死者数："),
                           F.col("casualties.deaths").cast("string")), 1),
    ))
    ops.append(F.when(
        F.col("casualties.injuries").isNotNull(),
        _head(14, F.concat(F.lit("負傷者数："),
                           F.col("casualties.injuries").cast("string")), 2),
    ))
    trailing = [("被害金額", "financial_damage"), ("社会への影響", "social_impact"),
                ("備考", "notes"), ("分野", "field")]
    for i, (jp, key) in enumerate(trailing):
        ops.append(F.when(
            F.col(key) != "",
            _head(15 + i, F.concat(F.lit(f"{jp}："), F.col(key))),
        ))
    ops.append(F.when(
        F.size(F.col("authors")) > 0,
        _head(19, F.concat(F.lit("データ作成者："),
                           F.array_join(F.col("authors"), " / "))),
    ))
    # one struct per source line, seq from the array index; the
    # duplicate _head(14, …) rows above stay ordered by their seq=0
    # vs these seq>=1 values within the shared section
    src_ops = F.transform(
        F.col("sources"),
        lambda s_, i: _pdf_op(-1, 13, i + 1, "para", 100, 0.0,
                              w=F.lit(box_w), label=s_),
    )
    dims = [
        F.lit(_PAGE_W).cast("long").alias("page_w"),
        F.lit(_PAGE_H).cast("long").alias("total_h"),
    ]
    text_ops = successes.select(
        F.col("case_id").alias("doc_id"),
        F.explode(
            F.filter(F.concat(F.array(*ops), src_ops),
                     lambda o: o.isNotNull())
        ).alias("o"),
    ).select("doc_id", "o.*", *dims)

    # --- page 1: the diagonal diagram (scenario cases only) ---
    scen = successes.filter(nested.scenario_presence(F.col("scenario"))).select(
        F.col("case_id").alias("doc_id"), "scenario"
    )
    pos = diagram.positioned_items_chunked(scen, "doc_id")
    diag_ops = diagram.draw_ops(pos, "doc_id").select(
        "doc_id",
        F.lit(1).cast("int").alias("page"),
        "section",
        F.col("seq").cast("int").alias("seq"),
        "op",
        F.col("x").cast("double"),
        F.col("y").cast("double"),
        F.col("x2").cast("double"),
        F.col("y2").cast("double"),
        F.col("w").cast("double"),
        F.col("h").cast("double"),
        "fill",
        "label",
        F.lit(None).cast("binary").alias("img"),
        F.col("page_w").cast("long"),
        F.col("total_h").cast("long"),
    )

    # --- pages 2+: one multimedia image per page ---
    mm = successes.select(
        F.col("case_id").alias("doc_id"),
        "url",
        F.posexplode("images.multimedia").alias("i", "m"),
    )
    mm_img = fetch_binary(
        scalar.resolve_url(
            F.col("url"),
            F.concat(F.lit("../mf/"), F.col("m.id"), F.lit(".jpg")),
        )
    ).getField("content")
    page_col = (F.col("i") + 2).cast("int")
    mm_ops = mm.select(
        "doc_id",
        F.explode(
            F.array(
                _pdf_op(page_col, 0, 0, "text", 100, _PAGE_H - 150,
                        label=F.col("m.caption")),
                _pdf_op(page_col, 0, 1, "image", 100, 300,
                        w=F.lit(1900.0), h=F.lit(2300.0),
                        img=mm_img, label=F.col("m.caption")),
            )
        ).alias("o"),
    ).select("doc_id", "o.*", *dims)

    draw = text_ops.unionByName(diag_ops).unionByName(mm_ops)
    sinks.render_pdf_sink(draw, out_dir, id_col="doc_id")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="shippai_knowledge_etl_spark.run",
        description="Extract failure-knowledge cases (Spark engine)",
    )
    p.add_argument("urls", nargs="+", help="case (/cf/) or list (/lis/) URLs")
    p.add_argument("--limit", type=int, default=None,
                   help="max cases expanded per list page")
    p.add_argument("--output-dir", default="data")
    p.add_argument("--pdf", action="store_true",
                   help="also render one PDF report per success")
    args = p.parse_args(argv)

    from shippai_knowledge_etl_spark.session import get_spark

    spark = get_spark("shippai-etl-run")
    worklist = expand_worklist(spark, args.urls, args.limit)
    try:
        if worklist.isEmpty():  # src/run.py:79-81
            print("error: empty worklist", file=sys.stderr)
            return 1
        # the records are materialised ONCE: every sink below plans
        # against this flat relation, not the fetch/parse lineage
        records = process_cases(worklist).localCheckpoint(eager=True)
    finally:
        drop_checkpoints(worklist)
    try:
        path = _write_outputs(records, args.output_dir, args.pdf)
    finally:
        drop_checkpoints(records)
    print(f"manifest: {path}")
    return 0


def _write_outputs(records: DataFrame, out: str, pdf: bool) -> str:
    """JSON records, optional PDFs and the run manifest; returns the
    manifest path."""
    successes = records.filter(F.col("status") == quality.STATUS_SUCCESS)
    sinks.write_cases_json_named(successes.select(*RECORD_COLUMNS), out)
    if pdf:
        _render_pdfs(successes, out)

    # manifest: per-case entries with status-dependent payloads +
    # summary (src/run.py:95-132). The entries flow through a
    # DISTRIBUTED json write ordered by worklist position; the driver
    # streams them into the manifest one at a time — no per-case collect
    json_name = scalar.output_filename(
        F.col("case_id"), F.col("case_name"), "json"
    )
    if pdf:
        outputs = F.array(json_name, F.concat(F.col("case_id"), F.lit(".pdf")))
    else:
        outputs = F.array(json_name)
    is_err = F.col("status") == quality.STATUS_ERROR
    entries = records.select(
        "seq",
        # error entries carry only url/status/message (src/run.py:113-119)
        F.when(~is_err, F.col("case_id")).alias("case_id"),
        F.when(~is_err, F.col("case_name")).alias("case_name"),
        F.col("url"),
        F.col("status"),
        F.when(F.col("status") == quality.STATUS_SUCCESS, outputs
               ).alias("outputs"),
        F.when(
            F.col("status") == quality.STATUS_EXCLUDED, F.col("missing_fields")
        ).alias("missing_fields"),
        F.when(is_err, F.coalesce(F.col("fetch_error"), F.col("scen_error"))
               ).alias("message"),
    )
    tmp = os.path.join(out, ".manifest_entries")
    entries.orderBy("seq").drop("seq").write.mode("overwrite").json(tmp)
    summary = quality.status_summary(records).collect()[0].asDict()
    path = sinks.write_manifest_streamed(
        summary, sinks.iter_json_parts(tmp), out
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return path


if __name__ == "__main__":
    sys.exit(main())
