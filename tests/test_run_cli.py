"""End-to-end CLI test: the reference's run.py workflow against a
loopback HTTP site — list-page expansion, fetch fan-out, full nested
case-record assembly (scenario sub-page, images struct, casualties,
normalized date), validation, per-case JSON naming contract, streamed
manifest sequencing, PDF emission, and the empty-worklist exit code."""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

CASE_OK = """
<html><table>
<tr><td bgcolor="#DFE9F2">事例名称</td><td>タンク爆発</td></tr>
<tr><td bgcolor="#DFE9F2">事例発生日付</td><td>1990年6月2日</td></tr>
<tr><td bgcolor="#DFE9F2">事例発生地</td><td>川崎市</td></tr>
<tr><td bgcolor="#DFE9F2">事例発生場所</td><td>化学工場</td></tr>
<tr><td bgcolor="#DFE9F2">代表図</td><td><img src="../df/DZ001.jpg"></td></tr>
<tr><td bgcolor="#DFE9F2">事例概要</td><td>summary text</td></tr>
<tr><td bgcolor="#DFE9F2">事象</td><td>phenomenon text</td></tr>
<tr><td bgcolor="#DFE9F2">経過</td><td>process line 1<br>process line 2<br><br>para 2</td></tr>
<tr><td bgcolor="#DFE9F2">原因</td><td>cause text</td></tr>
<tr><td bgcolor="#DFE9F2">対処</td><td>response text</td></tr>
<tr><td bgcolor="#DFE9F2">対策</td><td>fix text</td></tr>
<tr><td bgcolor="#DFE9F2">知識化</td><td>・知識その一<br>・知識その二</td></tr>
<tr><td bgcolor="#DFE9F2">背景</td><td>background text</td></tr>
<tr><td bgcolor="#DFE9F2">シナリオ</td><td><a href="../sf/SA0000001.html">シナリオ表示</a></td></tr>
<tr><td bgcolor="#DFE9F2" rowspan="2">マルチメディアファイル</td>
    <td><a href="../mf/MA1.jpg">写真1</a></td></tr>
<tr><td><a href="../mf/MA2.jpg">写真2</a></td></tr>
<tr><td bgcolor="#DFE9F2">情報源</td><td>source one<br>失敗知識DB http://example.com/ref.html</td></tr>
<tr><td bgcolor="#DFE9F2">死者数</td><td>0名</td></tr>
<tr><td bgcolor="#DFE9F2">負傷者数</td><td>2名</td></tr>
<tr><td bgcolor="#DFE9F2">被害金額</td><td>1億円</td></tr>
<tr><td bgcolor="#DFE9F2">社会への影響</td><td>impact text</td></tr>
<tr><td bgcolor="#DFE9F2">備考</td><td>notes text</td></tr>
<tr><td bgcolor="#DFE9F2">分野</td><td>化学物質</td></tr>
<tr><td bgcolor="#DFE9F2">データ作成者</td><td>山田&nbsp;太郎<br>佐藤&nbsp;花子</td></tr>
<tr><td bgcolor="#FFFFFF">無視</td><td>not a label cell</td></tr>
</table></html>
"""

# the diagonal-diagram page: 9 numbered items (listed out of order to
# exercise the O1 sort), double separator lines after items 3 and 6
# (spacer widths 15 and 35 → F19 decodes boundaries 3 and 6), one
# single line that must NOT create a category boundary
SCENARIO_PAGE = """
<html><table><tr><td valign="top" width="60%">
<table>
<tr><td><b>2.</b></td><td> </td><td>腐食</td></tr>
<tr><td><b>1.</b></td><td> </td><td>組織運営不良</td></tr>
<tr><td><b>3.</b></td><td> </td><td>管理不良</td></tr>
<tr><td><img src="img/space.gif" width="15"><img src="img/sinario_line_2.gif"></td></tr>
<tr><td><b>4.</b></td><td> </td><td>定常操作</td></tr>
<tr><td><b>5.</b></td><td> </td><td>誤操作</td></tr>
<tr><td><img src="img/space.gif" width="25"><img src="img/sinario_line_1.gif"></td></tr>
<tr><td><b>6.</b></td><td> </td><td>破損</td></tr>
<tr><td><img src="img/space.gif" width="35"><img src="img/sinario_line_2.gif"></td></tr>
<tr><td><b>7.</b></td><td> </td><td>二次災害</td></tr>
<tr><td><b>8.</b></td><td> </td><td>損壊</td></tr>
<tr><td><b>9.</b></td><td> </td><td>環境破壊</td></tr>
</table>
</td><td width="40%">right pane decoy <b>99.</b></td></tr></table></html>
"""

# 原因 missing → excluded (scenario link present so only 原因 is missing)
CASE_MISSING = """
<html><table>
<tr><td bgcolor="#DFE9F2">事例名称</td><td>name only</td></tr>
<tr><td bgcolor="#DFE9F2">事例概要</td><td>summary</td></tr>
<tr><td bgcolor="#DFE9F2">経過</td><td>process</td></tr>
<tr><td bgcolor="#DFE9F2">対策</td><td>fix</td></tr>
<tr><td bgcolor="#DFE9F2">シナリオ</td><td><a href="../sf/SA0000001.html">シナリオ</a></td></tr>
</table></html>
"""

# scenario link present but the sub-page 404s → status error
CASE_SCEN_404 = CASE_MISSING.replace("SA0000001", "SA0000404")
# no scenario link anywhere on the page → no scenario request at all
CASE_NO_SCEN = """
<html><table>
<tr><td bgcolor="#DFE9F2">事例名称</td><td>no scenario</td></tr>
<tr><td bgcolor="#DFE9F2">事例概要</td><td>summary</td></tr>
</table></html>
"""

LIST_PAGE = """
<html>
<ul class="other"><li><a href="/cf/DECOY.html">decoy</a></li></ul>
<ul class="list_all">
<li><a href="../cf/CA0000001.html">case 1</a></li>
<li><a href="../sf/noise.html">noise</a></li>
<li><a href="../cf/CA0000002.html">case 2</a></li>
<li><a href="../cf/CA0000003.html">case 3 (past limit)</a></li>
</ul></html>
"""


# minimal structurally-valid JPEG (SOI + SOF0 8x4 gray + EOI): enough
# for the emitter's dimension scan + DCTDecode embedding
TINY_JPEG = (
    b"\xff\xd8"
    b"\xff\xc0\x00\x0b\x08\x00\x04\x00\x08\x01\x01\x11\x00"
    b"\xff\xd9"
)


REQUESTS: list[str] = []  # every path the site was asked for, in order


class _Site(BaseHTTPRequestHandler):
    def do_GET(self):
        REQUESTS.append(self.path)
        pages = {
            "/fkd/lis/lis1.html": LIST_PAGE,
            "/fkd/cf/CA0000001.html": CASE_OK,
            "/fkd/cf/CA0000002.html": CASE_MISSING,
            "/fkd/cf/CA0000005.html": CASE_SCEN_404,
            "/fkd/cf/CA0000006.html": CASE_NO_SCEN,
            "/fkd/sf/SA0000001.html": SCENARIO_PAGE,
        }
        images = {
            "/fkd/df/DZ001.jpg": TINY_JPEG,
            "/fkd/mf/MA1.jpg": TINY_JPEG,
            # MA2.jpg intentionally 404s → placeholder text in the PDF
        }
        if self.path in images:
            self.send_response(200)
            self.send_header("Content-Type", "image/jpeg")
            self.end_headers()
            self.wfile.write(images[self.path])
            return
        body = pages.get(self.path)
        if body is None:
            self.send_error(404)
            return
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.end_headers()
        self.wfile.write(body.encode("utf-8"))

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def site():
    srv = HTTPServer(("127.0.0.1", 0), _Site)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/fkd"
    srv.shutdown()


@pytest.mark.slow
def test_cli_end_to_end(spark, site, tmp_path):
    from shippai_knowledge_etl_spark.run import main

    out = tmp_path / "data"
    rc = main(
        [
            f"{site}/lis/lis1.html",
            f"{site}/cf/CA0000404.html",  # 404 → status error
            f"{site}/xx/unknown.html",  # warn + skip
            "--limit", "2",  # CA0000003 dropped by the per-list limit
            "--output-dir", str(out),
            "--pdf",
        ]
    )
    assert rc == 0

    # success artifacts: naming contract + the FULL nested case record
    # per requirements.md:107-142
    case_json = out / "CA0000001_タンク爆発.json"
    assert case_json.exists(), sorted(p.name for p in out.iterdir())
    doc = json.loads(case_json.read_text(encoding="utf-8"))
    assert doc["case_id"] == "CA0000001"
    assert doc["case_name"] == "タンク爆発"
    assert doc["url"].endswith("/fkd/cf/CA0000001.html")
    assert doc["date"] == "1990-06-02"  # F1 normalized
    assert doc["location"] == "川崎市"
    assert doc["facility"] == "化学工場"
    assert doc["summary"] == "summary text"
    assert doc["phenomenon"] == "phenomenon text"
    # get_html_text: line breaks kept, blank-line runs = paragraph break
    assert doc["process"] == "process line 1\nprocess line 2\n\npara 2"
    assert doc["cause"] == "cause text"
    assert doc["response"] == "response text"
    assert doc["countermeasure"] == "fix text"
    assert doc["knowledge"] == ["知識その一", "知識その二"]  # F6 bullets
    assert doc["background"] == "background text"
    # scenario: O1 sort → F19 boundaries (3, 6) → W2 slice → W1 chunk3
    assert doc["scenario"] == {
        "cause": [["組織運営不良", "腐食", "管理不良"]],
        "action": [["定常操作", "誤操作", "破損"]],
        "result": [["二次災害", "損壊", "環境破壊"]],
    }
    # images struct: representative basename + deduped multimedia ids
    assert doc["images"] == {
        "representative": "DZ001.jpg",
        "multimedia": [
            {"id": "MA1", "caption": "写真1"},
            {"id": "MA2", "caption": "写真2"},
        ],
    }
    assert doc["sources"] == ["source one", "失敗知識DB http://example.com/ref.html"]
    assert doc["casualties"] == {"deaths": 0, "injuries": 2}  # F2
    assert doc["financial_damage"] == "1億円"
    assert doc["social_impact"] == "impact text"
    assert doc["notes"] == "notes text"
    assert doc["field"] == "化学物質"
    assert doc["authors"] == ["山田 太郎", "佐藤 花子"]  # F8 nbsp → space
    # contract key order (requirements.md:107-142)
    assert list(doc) == [
        "case_id", "case_name", "url", "date", "location", "facility",
        "summary", "phenomenon", "process", "cause", "response",
        "countermeasure", "knowledge", "background", "scenario", "images",
        "sources", "casualties", "financial_damage", "social_impact",
        "notes", "field", "authors",
    ]
    # composite PDF: flowed prose pages (title, fields, representative
    # image, full-length sections, sources, casualties), then the
    # diagonal diagram page, then one multimedia page per image
    pdf = (out / "CA0000001.pdf").read_bytes()
    assert pdf.startswith(b"%PDF-1.4")
    m = re.search(rb"/Count (\d+)", pdf)
    n_pages = int(m.group(1))
    # ≥2 flow pages (fields + image + sections overflow one A4) +
    # diagram + MA1 + MA2
    assert n_pages >= 5, n_pages
    # title rendered in the CID CJK font (UTF-16BE hex string)
    assert "タンク爆発".encode("utf-16-be").hex().encode() in pdf
    # full section text flows (no 120-char truncation): every prose
    # field and the trailing labeled fields render
    for frag in ("背景", "知識その二", "被害情報", "死者数：0", "分野：化学物質"):
        assert frag.encode("utf-16-be").hex().encode() in pdf, frag
    assert pdf.count(b"/Subtype /Image") == 2  # DZ001 + MA1 embedded
    assert b"/Filter /DCTDecode" in pdf
    # the source URL renders as a live hyperlink: blue underline in the
    # content stream + a /Annots /URI rect (reference
    # src/render_pdf.py:423-435)
    assert b"/Subtype /Link" in pdf
    assert b"/S /URI /URI (http://example.com/ref.html)" in pdf
    assert b"0 0 1 rg" in pdf  # link text drawn blue
    # MA2.jpg 404s → the reference's failure-placeholder text
    ph = "[画像読み込みエラー: 写真2]".encode("utf-16-be").hex().encode()
    assert ph in pdf
    # JP_H2 section headings draw their #ecf0f1 background fill
    # (reference src/render_pdf.py:43-53); this case renders 11 H2
    # sections (代表図, 8 prose, 情報源, 被害情報)
    n_h2 = pdf.count(b"0.925 0.941 0.945 rg")
    assert n_h2 == 11, n_h2
    # diagram geometry: 9 item bars + the H2 background fills
    assert pdf.count(b" re f") == 9 + n_h2
    # 2 category-end doubles (±4 pairs) + 3 braces (the single-line
    # separator coincides with a category boundary so adds nothing)
    # + 1 hyperlink underline on the flow pages
    assert pdf.count(b" l S") == 8

    # manifest: sequencing + summary + per-status payloads (entries
    # streamed from the distributed write — reference src/run.py:95-132)
    manifest = json.loads((out / "results_001.json").read_text("utf-8"))
    assert manifest["summary"] == {
        "total": 3, "n_success": 1, "n_excluded": 1, "n_error": 1,
    }
    assert not (out / ".manifest_entries").exists()  # temp dir cleaned
    # argv order (reference extend/append loop, src/run.py:66-77): the
    # list's cases in its argv slot in link order, then the direct URL
    assert [c["url"].rsplit("/", 1)[-1] for c in manifest["cases"]] == [
        "CA0000001.html", "CA0000002.html", "CA0000404.html",
    ]
    by_url = {c["url"].rsplit("/", 1)[-1]: c for c in manifest["cases"]}
    ok = by_url["CA0000001.html"]
    assert ok["case_id"] == "CA0000001"
    assert ok["case_name"] == "タンク爆発"
    assert ok["status"] == "success"
    assert ok["outputs"] == ["CA0000001_タンク爆発.json", "CA0000001.pdf"]
    excl = by_url["CA0000002.html"]
    assert excl["status"] == "excluded"
    assert excl["missing_fields"] == ["原因"]  # the reference's HTML label
    err = by_url["CA0000404.html"]
    assert err["status"] == "error"
    assert "404" in err["message"]
    assert "case_id" not in err  # error entries carry url/status/message only

    # second run appends the sequence, never overwrites
    assert main([f"{site}/cf/CA0000001.html", "--output-dir", str(out)]) == 0
    results2 = json.loads((out / "results_002.json").read_text("utf-8"))
    assert results2["cases"][0]["outputs"] == ["CA0000001_タンク爆発.json"]


def test_cli_empty_worklist_exits_1(spark, tmp_path):
    from shippai_knowledge_etl_spark.run import main

    assert main(["http://x/unknown/route.html",
                 "--output-dir", str(tmp_path)]) == 1


@pytest.mark.slow
def test_cli_leaves_no_persisted_state(spark, site, tmp_path):
    """main releases the worklist and case-record checkpoints it makes,
    and the diagram path persists nothing."""
    from shippai_knowledge_etl_spark.run import main

    def n_persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persisted()
    rc = main([f"{site}/lis/lis1.html", f"{site}/cf/CA0000002.html",
               "--output-dir", str(tmp_path), "--pdf"])
    assert rc == 0
    assert n_persisted() == before


def test_failed_list_page_warns_and_expands_to_nothing(spark, site, capsys):
    from shippai_knowledge_etl_spark.run import drop_checkpoints, expand_worklist

    url = f"{site}/lis/missing.html"
    worklist = expand_worklist(spark, [url], None)
    try:
        assert worklist.count() == 0
    finally:
        drop_checkpoints(worklist)
    err = capsys.readouterr().err
    assert f"list page fetch failed (http 404), 0 cases expanded: {url}" in err


def _records(spark, urls: list[str]) -> dict[str, dict]:
    from shippai_knowledge_etl_spark.run import (
        drop_checkpoints, expand_worklist, process_cases)

    worklist = expand_worklist(spark, urls, None)
    try:
        rows = process_cases(worklist).collect()
    finally:
        drop_checkpoints(worklist)
    return {r.case_id: r.asDict() for r in rows}


def test_scenario_fetch_failure_is_a_case_error(spark, site):
    rec = _records(spark, [f"{site}/cf/CA0000005.html"])["CA0000005"]
    assert rec["status"] == "error"
    assert rec["fetch_error"] is None
    assert rec["scen_error"] == "http 404"


def test_case_without_scenario_link_sends_no_scenario_request(spark, site):
    REQUESTS.clear()
    rec = _records(spark, [f"{site}/cf/CA0000006.html"])["CA0000006"]
    assert REQUESTS == ["/fkd/cf/CA0000006.html"]
    assert rec["scen_error"] is None
    assert rec["status"] == "excluded"  # シナリオ missing, not an error


def test_one_python_stage_per_fetched_page(spark, site):
    """The fetch and the parse of a page share one ArrowEvalPython:
    two per case (case page, scenario page), one for the list pages."""
    from shippai_knowledge_etl_spark import run

    def n_python(df) -> int:
        return df._jdf.queryExecution().executedPlan().toString().count(
            "ArrowEvalPython")

    assert n_python(run._expand_lists(spark, [(0, f"{site}/lis/lis1.html")], 2)) == 1
    worklist = run.expand_worklist(spark, [f"{site}/cf/CA0000001.html"], None)
    assert n_python(run.process_cases(worklist)) == 2
