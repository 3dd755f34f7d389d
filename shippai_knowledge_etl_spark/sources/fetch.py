"""HTTP fetch edge (SURVEY.md §2.1 S1/S3/S4; §2.9 policy).

The reference fetches pages and images sequentially with a 30 s timeout
(src/extract.py:34-38, src/render_pdf.py:90-98). Here fetching is an
iterator-form pandas UDF: one HTTP session per Python worker (connection
reuse across Arrow batches), rows fetched within a partition, failures
returned as null/status columns — never task failures (errors-are-data).

``fetch_parsed`` fuses a page fetch with its parse: the CLI's list,
case and scenario pages each cross into Python once, and the page body
stays inside the worker instead of making an Arrow round trip through
the JVM between the fetch and the parse stage.

Partition-parallel fan-out replaces the reference's sequential loop: at
1000 executors the worklist shards naturally; rate limits are applied
per-partition (sleep between requests) so cluster-wide QPS =
partitions × per-partition rate — repartition the worklist to tune.

Correctness tests use a loopback HTTP server (tests/test_fetch.py);
live-network use is smoke-only (SURVEY §7.4 item 6).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("body", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)

FETCH_BINARY_SCHEMA = T.StructType(
    [
        T.StructField("content", T.BinaryType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)

TIMEOUT_SEC = 30  # reference: src/extract.py:36


def _fetch_one(opener, url: str, binary: bool):
    import urllib.error

    if not url:
        # null URL = "nothing to fetch" (e.g. a case with no scenario
        # link): pass the null through, never a synthetic error row
        return None, None, None
    try:
        with opener.open(url, timeout=TIMEOUT_SEC) as resp:
            raw = resp.read()
            status = resp.status
        if status >= 300:
            return None, status, f"http {status}"
        return (raw if binary else raw.decode("utf-8", "replace")), status, None
    except urllib.error.HTTPError as e:
        return None, e.code, f"http {e.code}"
    except Exception as e:  # timeouts, DNS, conn reset — tolerated (S4)
        return None, None, f"{type(e).__name__}: {e}"


@pandas_udf(FETCH_RESULT_SCHEMA)
def fetch_html(urls: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """S1/S3: URL → page text with status/error columns. The opener is
    created once per worker and reused across batches."""
    import urllib.request

    opener = urllib.request.build_opener()
    for batch in urls:
        rows = [_fetch_one(opener, u, binary=False) for u in batch]
        yield pd.DataFrame(rows, columns=["body", "status", "error"])


@pandas_udf(FETCH_BINARY_SCHEMA)
def fetch_binary(urls: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """S4: URL → bytes, null on any failure (reference returns None,
    src/render_pdf.py:96-98)."""
    import urllib.request

    opener = urllib.request.build_opener()
    for batch in urls:
        rows = [_fetch_one(opener, u, binary=True) for u in batch]
        yield pd.DataFrame(rows, columns=["content", "status", "error"])


def fetched_pages(url_col: Column) -> Column:
    return fetch_html(url_col)


def fetch_parsed(
    parse_fn: Callable[[str], dict], schema: T.StructType
) -> Callable[[Column], Column]:
    """S1/S3 fused with a page parser: URL → ``parse_fn(body)`` fields
    plus a ``fetch_error`` string, in ONE Python stage.

    ``parse_fn`` maps page text to a dict keyed by ``schema``'s fields
    (``html_parse.parse_case_page``, ``parse_scenario_page``). A failed
    or null fetch yields the parse of an empty page, so a fetch error
    reads as an empty page plus its message and a null URL (nothing to
    fetch) as an empty page with a null ``fetch_error`` and no request.
    Errors are data, as in ``fetch_html``."""
    out = T.StructType(
        [*schema.fields, T.StructField("fetch_error", T.StringType())]
    )
    cols = [f.name for f in out.fields]

    @pandas_udf(out)
    def fetch_and_parse(urls: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import urllib.request

        opener = urllib.request.build_opener()
        blank = parse_fn("")
        for batch in urls:
            rows = []
            for u in batch:
                body, _, error = _fetch_one(opener, u, binary=False)
                rows.append(
                    {**(parse_fn(body) if body else blank), "fetch_error": error}
                )
            yield pd.DataFrame(rows, columns=cols)

    return fetch_and_parse
