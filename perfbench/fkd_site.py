"""Seeded synthetic failure-knowledge site and a counting loopback server.

``build_site(seed)`` lays out an FKD-shaped site in memory: list pages
(``/fkd/lis/``) whose ``ul.list_all`` links case pages (``/fkd/cf/``),
each success case with a scenario sub-page (``/fkd/sf/``), a
representative image (``/fkd/df/``) and 0-3 multimedia images
(``/fkd/mf/``) as structurally valid JPEGs. A fixed share of listed
cases is ``excluded`` (no 原因 row) and a fixed share is ``error`` (the
server answers 404). A seeded share of pages carries a doctype, a
comment or a ``<script>`` block, so the HTML fast scanner's fallback
path runs.

The seed decides which case gets which role and content; the counts,
the multiset of prose lengths and the multiset of image sizes are the
same for every seed, so output sizes do not drift with the seed.

The site's mix is an unverified placeholder, not a measured profile of
the real FKD site: the excluded and 404 shares (6 of 42 each),
``FALLBACK_SHARE``, ``MM_COUNTS``, ``PROSE_CHARS`` and ``IMAGE_BYTES``
come from no measurement or published figure. The images are JPEG
skeletons (headers and comment padding, no entropy-coded data), which
the PDF emitter embeds as DCTDecode streams without decoding, so only
their byte size matters to it. The fast-scanner/fallback split and the
image-embedding cost follow these numbers; replace them once page and
image statistics of the real site are recorded in the repository.

Next to the pages the site carries the expected outcome per case
(status, missing fields, the nested JSON record, the PDF image count
and the flow-page range), which ``check_output`` compares a CLI run's
artifacts against.

``CountingServer`` serves the site on 127.0.0.1 from a pool of at most
``threads`` handler threads and counts requests, distinct URLs, bytes,
service time and the maximum number of in-flight requests per URL class.
"""

from __future__ import annotations

import json
import os
import random
import re
import socketserver
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, HTTPServer

# Per-site composition; identical for every seed. Unverified placeholders
# (see the module docstring), not measured from the real site.
N_LISTS = 4
PER_LIST = 9  # listed cases per list page
N_DIRECT = 6  # cases passed directly as /cf/ URLs
N_CASES = N_LISTS * PER_LIST + N_DIRECT
N_EXCLUDED = 6
N_ERROR = 6
N_SUCCESS = N_CASES - N_EXCLUDED - N_ERROR
FALLBACK_SHARE = 0.25  # pages carrying a doctype, comment or <script>
MM_COUNTS = [0, 1, 1, 2, 2, 3]  # multimedia images per success, cycled
# prose characters per success case, cycled; spans 2-5 flow pages
PROSE_CHARS = [900, 1800, 2700, 3600, 4500, 5400]
IMAGE_BYTES = [3_000, 6_000, 9_000, 12_000, 15_000, 18_000]

# CJK characters only: each is three UTF-8 bytes and one full-width
# glyph, so byte counts and line wraps depend on length, not on content
_KANJI = "事故原因対策経過設備配管溶接腐食破損漏洩爆発火災点検管理作業手順教育確認判断操作停止圧力温度材料構造設計製造運転保守"
_PLACES = ["川崎市", "横浜市", "大阪市", "名古屋市", "北九州市", "千葉市"]
_FACILITIES = ["化学工場", "発電所", "製油所", "倉庫", "研究所", "建設現場"]
_FIELDS = ["化学物質", "機械", "電気", "建設", "材料", "食品"]


def _text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(_KANJI) for _ in range(n))


def _paras(rng: random.Random, n_chars: int, n_paras: int) -> list[list[str]]:
    """n_chars of prose as paragraphs of 1-3 lines."""
    out, left = [], n_chars
    for i in range(n_paras):
        take = left if i == n_paras - 1 else left // (n_paras - i)
        left -= take
        n_lines = 1 + (take % 3)
        step = max(1, take // n_lines)
        lines = [_text(rng, step) for _ in range(n_lines - 1)]
        lines.append(_text(rng, take - step * (n_lines - 1)))
        out.append(lines)
    return out


def _paras_html(paras: list[list[str]]) -> str:
    return "<br><br>".join("<br>".join(p) for p in paras)


def _paras_text(paras: list[list[str]]) -> str:
    return "\n\n".join("\n".join(p) for p in paras)


def jpeg(width: int, height: int, size: int) -> bytes:
    """Baseline-JPEG skeleton (SOI, COM padding, SOF0, EOI) of exactly
    ``size`` bytes: enough for a PDF emitter's dimension scan."""
    sof = b"\xff\xc0\x00\x0b\x08" + height.to_bytes(2, "big") + width.to_bytes(2, "big") + b"\x01\x01\x11\x00"
    head, tail = b"\xff\xd8", b"\xff\xd9"
    pad = size - len(head) - len(sof) - len(tail)
    coms = []
    while pad > 0:
        n = min(pad, 65535 + 2)
        if pad - n in (1, 2, 3):  # leave room for a whole last segment
            n -= 4
        body = n - 4
        coms.append(b"\xff\xfe" + (body + 2).to_bytes(2, "big") + b"\x00" * body)
        pad -= n
    out = head + b"".join(coms) + sof + tail
    assert len(out) == size, (len(out), size)
    return out


def _decorate(rng: random.Random, html: str) -> tuple[str, bool]:
    """Give a seeded share of pages a construct the fast scanner hands
    to HTMLParser (doctype, comment or script)."""
    if rng.random() >= FALLBACK_SHARE:
        return "<html>" + html + "</html>", False
    kind = rng.randrange(3)
    if kind == 0:
        return "<!DOCTYPE html><html>" + html + "</html>", True
    if kind == 1:
        return "<html><!-- generated page -->" + html + "</html>", True
    return "<html><head><script>var x = 1 < 2;</script></head>" + html + "</html>", True


def _row(label: str, value: str) -> str:
    return f'<tr><td bgcolor="#DFE9F2">{label}</td><td>{value}</td></tr>\n'


@dataclass
class Site:
    seed: int
    pages: dict[str, bytes] = field(default_factory=dict)  # path → body
    list_paths: list[str] = field(default_factory=list)
    direct_paths: list[str] = field(default_factory=list)
    expected: dict[str, dict] = field(default_factory=dict)  # case_id → outcome
    case_html: list[str] = field(default_factory=list)
    scenario_html: list[str] = field(default_factory=list)
    fallback_pages: int = 0

    def argv(self, base: str, out_dir: str) -> list[str]:
        """CLI arguments: every list page, the direct case URLs and one
        unrecognized route (warned and skipped)."""
        return [
            *(base + p for p in self.list_paths),
            *(base + p for p in self.direct_paths),
            base + "/fkd/xx/unknown.html",
            "--pdf",
            "--output-dir",
            out_dir,
        ]

    def counts(self) -> dict[str, int]:
        st = [e["status"] for e in self.expected.values()]
        return {s: st.count(s) for s in ("success", "excluded", "error")}


def _scenario(rng: random.Random) -> tuple[str, dict]:
    """Scenario sub-page with 3a cause, 3b action and r result items,
    listed out of order, double separators after the cause and action
    blocks (spacer width encodes the boundary) and one single line."""
    a, b, r = rng.randint(1, 2), rng.randint(1, 2), rng.randint(1, 5)
    n = 3 * (a + b) + r
    items = [_text(rng, rng.randint(2, 6)) for _ in range(n)]
    b1, b2 = 3 * a, 3 * (a + b)
    order = list(range(n))
    rng.shuffle(order)
    rows = []
    for k, i in enumerate(order):
        rows.append(f"<tr><td><b>{i + 1}.</b></td><td> </td><td>{items[i]}</td></tr>")
        if k == n // 2:
            rows.append('<tr><td><img src="img/space.gif" width="25">'
                        '<img src="img/sinario_line_1.gif"></td></tr>')
    for bnd in (b1, b2):
        width = (bnd // 3 - 1) * 20 + 15
        rows.append(f'<tr><td><img src="img/space.gif" width="{width}">'
                    '<img src="img/sinario_line_2.gif"></td></tr>')
    html = ('<table><tr><td valign="top" width="60%"><table>\n' + "\n".join(rows)
            + '\n</table></td><td width="40%">right pane <b>99.</b></td></tr></table>')

    def chunk(xs):
        return [xs[i:i + 3] for i in range(0, len(xs), 3)]

    return html, {
        "cause": chunk(items[:b1]),
        "action": chunk(items[b1:b2]),
        "result": chunk(items[b2:]),
    }


def build_site(seed: int) -> Site:
    rng = random.Random(seed)
    site = Site(seed)
    ids = [f"CA{seed % 1000:03d}{i:04d}" for i in range(N_CASES)]
    roles = ["error"] * N_ERROR + ["excluded"] * N_EXCLUDED + ["success"] * N_SUCCESS
    # direct URLs are never 404s, so every error case sits on a list page
    listed_roles = roles[: N_LISTS * PER_LIST]
    rng.shuffle(listed_roles)
    roles = listed_roles + roles[N_LISTS * PER_LIST:]
    prose = (PROSE_CHARS * N_SUCCESS)[:N_SUCCESS]
    mm_counts = (MM_COUNTS * N_SUCCESS)[:N_SUCCESS]
    rng.shuffle(prose)
    rng.shuffle(mm_counts)
    # one size per image (representative + multimedia), the same multiset
    # for every seed
    n_images = N_SUCCESS + sum(mm_counts)
    sizes = (IMAGE_BYTES * n_images)[:n_images]
    rng.shuffle(sizes)

    def page(path: str, html: str, kind: str) -> None:
        body, fell_back = _decorate(rng, html)
        site.pages[path] = body.encode("utf-8")
        if fell_back:
            site.fallback_pages += 1
        (site.case_html if kind == "case" else site.scenario_html).append(body)

    n_ok = 0
    for idx, (cid, role) in enumerate(zip(ids, roles)):
        path = f"/fkd/cf/{cid}.html"
        if idx >= N_LISTS * PER_LIST:
            site.direct_paths.append(path)
        if role == "error":
            site.expected[cid] = {"status": "error", "path": path}
            continue
        name = _text(rng, rng.randint(3, 8))
        y, mo, d = rng.randint(1960, 2010), rng.randint(1, 12), rng.randint(1, 28)
        place, facility, fld = rng.choice(_PLACES), rng.choice(_FACILITIES), rng.choice(_FIELDS)
        deaths, injuries = rng.randint(0, 9), rng.randint(0, 30)
        know = [_text(rng, rng.randint(6, 14)) for _ in range(rng.randint(1, 3))]
        authors = [_text(rng, 2) + " " + _text(rng, 2) for _ in range(2)]
        summary = _text(rng, rng.randint(30, 60))
        phen = _text(rng, 20)
        sources = [_text(rng, 8), f"失敗知識DB http://example.com/ref/{cid}.html"]
        if role == "success":
            total = prose[n_ok]
        else:
            total = PROSE_CHARS[0]
        # prose split over the five paragraph fields
        shares = [0.3, 0.2, 0.2, 0.15, 0.15]
        para_fields = {}
        for key, share in zip(("process", "cause", "response", "countermeasure", "background"), shares):
            para_fields[key] = _paras(rng, int(total * share), rng.randint(1, 3))
        scen_html, scen = _scenario(rng)
        spath = f"/fkd/sf/S{cid[1:]}.html"
        rep = f"DZ{cid[2:]}.jpg"
        n_mm = mm_counts[n_ok] if role == "success" else 0
        mm = [(f"M{cid[1:]}_{k}", _text(rng, 4)) for k in range(n_mm)]
        rows = [
            _row("事例名称", name),
            _row("事例発生日付", f"{y}年{mo}月{d}日"),
            _row("事例発生地", place),
            _row("事例発生場所", facility),
            _row("代表図", f'<img src="../df/{rep}">'),
            _row("事例概要", summary),
            _row("事象", phen),
            _row("経過", _paras_html(para_fields["process"])),
        ]
        if role == "success":
            rows.append(_row("原因", _paras_html(para_fields["cause"])))
        rows += [
            _row("対処", _paras_html(para_fields["response"])),
            _row("対策", _paras_html(para_fields["countermeasure"])),
            _row("知識化", "<br>".join("・" + k for k in know)),
            _row("背景", _paras_html(para_fields["background"])),
            _row("シナリオ", f'<a href="../sf/{spath.rsplit("/", 1)[1]}">シナリオ表示</a>'),
        ]
        if mm:
            rows.append(
                f'<tr><td bgcolor="#DFE9F2" rowspan="{len(mm)}">マルチメディアファイル</td>'
                f'<td><a href="../mf/{mm[0][0]}.jpg">{mm[0][1]}</a></td></tr>\n'
            )
            for mid, cap in mm[1:]:
                rows.append(f'<tr><td><a href="../mf/{mid}.jpg">{cap}</a></td></tr>\n')
        rows += [
            _row("情報源", "<br>".join(sources)),
            _row("死者数", f"{deaths}名"),
            _row("負傷者数", f"{injuries}名"),
            _row("被害金額", f"{rng.randint(1, 99)}億円"),
            _row("社会への影響", _text(rng, 12)),
            _row("備考", _text(rng, 10)),
            _row("分野", fld),
            _row("データ作成者", "<br>".join(a.replace(" ", "&nbsp;") for a in authors)),
            '<tr><td bgcolor="#FFFFFF">無視</td><td>not a label cell</td></tr>\n',
        ]
        page(path, "<table>\n" + "".join(rows) + "</table>", "case")
        page(spath, scen_html, "scenario")
        record = {
            "case_id": cid,
            "case_name": name,
            "url": None,  # filled with the served base at check time
            "date": f"{y:04d}-{mo:02d}-{d:02d}",
            "location": place,
            "facility": facility,
            "summary": summary,
            "phenomenon": phen,
            "process": _paras_text(para_fields["process"]),
            "cause": _paras_text(para_fields["cause"]) if role == "success" else "",
            "response": _paras_text(para_fields["response"]),
            "countermeasure": _paras_text(para_fields["countermeasure"]),
            "knowledge": know,
            "background": _paras_text(para_fields["background"]),
            "scenario": scen,
            "images": {
                "representative": rep,
                "multimedia": [{"id": mid, "caption": cap} for mid, cap in mm],
            },
            "sources": sources,
            "casualties": {"deaths": deaths, "injuries": injuries},
        }
        exp = {"status": role, "path": path, "scenario_path": spath, "record": record}
        if role == "excluded":
            exp["missing_fields"] = ["原因"]
        else:
            # representative image + every multimedia image embed
            exp["pdf_images"] = 1 + n_mm
            exp["pdf_fixed_pages"] = 1 + n_mm  # diagram + one per image
            site.pages[f"/fkd/df/{rep}"] = jpeg(640, 480, sizes.pop())
            for mid, _ in mm:
                site.pages[f"/fkd/mf/{mid}.jpg"] = jpeg(800, 600, sizes.pop())
            n_ok += 1
        site.expected[cid] = exp

    for li in range(N_LISTS):
        links = "".join(
            f'<li><a href="../cf/{ids[i]}.html">case {i}</a></li>\n'
            + (f'<li><a href="../sf/noise{i}.html">noise</a></li>\n' if i % 4 == 0 else "")
            for i in range(li * PER_LIST, (li + 1) * PER_LIST)
        )
        path = f"/fkd/lis/lis{li + 1}.html"
        site.list_paths.append(path)
        html = ('<ul class="other"><li><a href="/cf/DECOY.html">decoy</a></li></ul>\n'
                f'<ul class="list_all">\n{links}</ul>')
        site.pages[path] = ("<html>" + html + "</html>").encode("utf-8")
    return site


def url_class(path: str) -> str:
    if "/lis/" in path:
        return "list"
    if "/cf/" in path:
        return "case"
    if "/sf/" in path:
        return "scenario"
    if path.endswith(".jpg"):
        return "image"
    return "other"


URL_CLASSES = ("list", "case", "scenario", "image")


class _PoolServer(socketserver.ThreadingMixIn, HTTPServer):
    """HTTPServer whose requests run on a fixed-size thread pool."""

    daemon_threads = True

    def __init__(self, addr, handler, threads: int) -> None:
        super().__init__(addr, handler)
        self._pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address) -> None:
        self._pool.submit(self.process_request_thread, request, client_address)

    def server_close(self) -> None:
        super().server_close()
        self._pool.shutdown(wait=True)


class CountingServer:
    """Serves a Site on loopback and counts per URL class."""

    def __init__(self, site: Site, threads: int) -> None:
        self.site = site
        self.lock = threading.Lock()
        self.inflight = 0
        self.stats = {
            c: {"requests": 0, "bytes": 0, "service_s": 0.0, "max_inflight": 0,
                "urls": set(), "useful": set()}
            for c in (*URL_CLASSES, "other")
        }
        owner = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:
                t0 = time.perf_counter()
                cls = url_class(self.path)
                with owner.lock:
                    owner.inflight += 1
                    c = owner.stats[cls]
                    c["max_inflight"] = max(c["max_inflight"], owner.inflight)
                body = owner.site.pages.get(self.path)
                try:
                    if body is None:
                        self.send_error(404)
                        n = 0
                    else:
                        self.send_response(200)
                        ctype = "image/jpeg" if cls == "image" else "text/html; charset=utf-8"
                        self.send_header("Content-Type", ctype)
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        n = len(body)
                finally:
                    dt = time.perf_counter() - t0
                    with owner.lock:
                        owner.inflight -= 1
                        c["requests"] += 1
                        c["bytes"] += n
                        c["service_s"] += dt
                        c["urls"].add(self.path)
                        if body is not None:
                            c["useful"].add(self.path)

            def log_message(self, *a) -> None:
                pass

        self.httpd = _PoolServer(("127.0.0.1", 0), Handler, threads)
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()
        self.base = f"http://127.0.0.1:{self.httpd.server_port}"

    def snapshot(self) -> dict[str, dict]:
        with self.lock:
            return {
                c: {"requests": s["requests"], "bytes": s["bytes"],
                    "service_s": s["service_s"], "max_inflight": s["max_inflight"],
                    "distinct_urls": len(s["urls"]), "useful_urls": len(s["useful"])}
                for c, s in self.stats.items()
            }

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join()


_PDF_COUNT = re.compile(rb"/Count (\d+)")


def check_output(site: Site, base: str, out_dir: str) -> tuple[list[str], dict]:
    """Compare one CLI run's artifacts with the site's expectation.

    Returns (failures, sizes): ``(case_id, message)`` for every case
    whose manifest entry, JSON record or PDF differs from what the
    generator planned (``"*"`` for run-wide faults), and the byte counts
    and PDF page totals of the artifacts."""
    fails: list[tuple[str, str]] = []
    sizes = {"json_bytes": 0, "pdf_bytes": 0, "manifest_bytes": 0,
             "json_files": 0, "pdfs": 0, "pdf_pages": 0}
    files = set(os.listdir(out_dir))
    manifests = sorted(f for f in files if re.fullmatch(r"results_\d{3}\.json", f))
    if manifests != ["results_001.json"]:
        return [("*", f"manifest files {manifests}")], sizes
    mpath = os.path.join(out_dir, manifests[0])
    sizes["manifest_bytes"] = os.path.getsize(mpath)
    with open(mpath, encoding="utf-8") as f:
        manifest = json.load(f)
    sizes["summary"] = manifest.get("summary") or {}
    counts = site.counts()
    want_summary = {"total": len(site.expected), "n_success": counts["success"],
                    "n_excluded": counts["excluded"], "n_error": counts["error"]}
    if manifest.get("summary") != want_summary:
        fails.append(("*", f"summary {manifest.get('summary')} != {want_summary}"))
    entries = {e["url"]: e for e in manifest.get("cases", [])}
    expected_files = {manifests[0]}
    for cid, exp in site.expected.items():
        url = base + exp["path"]
        e = entries.get(url)
        if e is None:
            fails.append((cid, "no manifest entry"))
            continue
        if e.get("status") != exp["status"]:
            fails.append((cid, f"status {e.get('status')} != {exp['status']}"))
            continue
        if exp["status"] == "error":
            if "404" not in (e.get("message") or "") or "case_id" in e:
                fails.append((cid, f"error entry {e}"))
            continue
        rec = dict(exp["record"], url=url)
        if e.get("case_id") != cid or e.get("case_name") != rec["case_name"]:
            fails.append((cid, f"entry ids {e.get('case_id')}/{e.get('case_name')}"))
        if exp["status"] == "excluded":
            if e.get("missing_fields") != exp["missing_fields"]:
                fails.append((cid, f"missing_fields {e.get('missing_fields')}"))
            continue
        jname = f"{cid}_{rec['case_name']}.json"
        pname = f"{cid}.pdf"
        expected_files.update((jname, pname))
        if e.get("outputs") != [jname, pname]:
            fails.append((cid, f"outputs {e.get('outputs')}"))
        try:
            jpath = os.path.join(out_dir, jname)
            with open(jpath, encoding="utf-8") as f:
                doc = json.load(f)
            sizes["json_bytes"] += os.path.getsize(jpath)
            sizes["json_files"] += 1
            for k, v in rec.items():
                if doc.get(k) != v:
                    fails.append((cid, f"field {k} {doc.get(k)!r} != {v!r}"))
                    break
            ppath = os.path.join(out_dir, pname)
            with open(ppath, "rb") as f:
                pdf = f.read()
            sizes["pdf_bytes"] += len(pdf)
            sizes["pdfs"] += 1
            m = _PDF_COUNT.search(pdf)
            pages = int(m.group(1)) if m else 0
            sizes["pdf_pages"] += pages
            flow = pages - exp["pdf_fixed_pages"]
            if not pdf.startswith(b"%PDF-") or not 2 <= flow <= 5:
                fails.append((cid, f"pdf pages {pages} (flow {flow})"))
            if pdf.count(b"/Subtype /Image") != exp["pdf_images"]:
                fails.append((cid, f"pdf images {pdf.count(b'/Subtype /Image')}"))
        except OSError as err:
            fails.append((cid, str(err)))
    extra = files - expected_files
    if extra:
        fails.append(("*", f"unexpected files {sorted(extra)[:5]}"))
    return fails, sizes
