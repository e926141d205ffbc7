"""Source operators S1-S7 (SURVEY.md §2.1), Spark-first.

The acquisition steps that are inherently driver-side in the reference
(HTML scrape S1/S2, GCS client S3/S7) stay driver-side here too — they
land a file where Spark can scan it. They are STUBBED behind import-tries
(requests/bs4/google-cloud-storage are not in this container) with the
control flow — try-primary → fallback-source — preserved and testable.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv(spark: SparkSession, path: str, header: bool = True, schema=None) -> DataFrame:
    """S5: CSV scan (e.g. the 28-row importer master). Schema explicit when
    known — inferSchema is a second full read."""
    reader = spark.read.option("header", header)
    return (reader.schema(schema) if schema is not None else reader).csv(path)


def read_importer_catalog(spark: SparkSession, path: str) -> DataFrame:
    """S5 specialized: the importer master dimension
    (COD_IMP, NOMBRE_EMP, RUT, NOMBRE_COD, RUT_COD) — broadcast-sized."""
    return read_csv(spark, path, header=True)


def read_csv_with_quarantine(
    spark: SparkSession, path: str, schema, header: bool = True
) -> tuple[DataFrame, DataFrame]:
    """S5 hardened: PERMISSIVE CSV scan that splits clean rows from
    malformed ones instead of dropping (DROPMALFORMED) or dying
    (FAILFAST). Returns (good, quarantine) — quarantine carries the raw
    offending line for triage, the same contract as the fuzzy-header
    ``not_found`` quarantine. At 100 TB a bad-rows side channel is the
    difference between a re-run and a patch-up: both outputs come from
    ONE scan (the corrupt-record column is populated by the parser).

    The schema must be explicit (corrupt-record capture needs a
    known-good shape to diverge from) and gets the capture column
    appended here.
    """
    from pyspark.sql import types as T

    capture = "_corrupt_record"
    full = T.StructType(list(schema.fields) + [T.StructField(capture, T.StringType())])
    df = (
        spark.read.option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", capture)
        .schema(full)
        .csv(path)
        # Spark's parser materializes corrupt capture lazily; a filter on
        # the capture column alone is unreliable without caching the raw
        # parse — project it through an intermediate to force it.
        .cache()
    )
    good = df.filter(F.col(capture).isNull()).drop(capture)
    bad = df.filter(F.col(capture).isNotNull()).select(F.col(capture).alias("raw_line"))
    return good, bad


def read_json_catalog(path: str | Path) -> dict:
    """S6: driver-side JSON catalog scan (metadata-scale)."""
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def acquire_with_fallback(
    primary: Callable[[], Path], fallback: Callable[[], Path]
) -> tuple[Path, str]:
    """S1-S3 control flow: try the primary acquisition (web scrape +
    download in the reference), fall back to the backup source (GCS bucket)
    on ANY failure; a fallback failure propagates. Returns
    (local_path, source_used)."""
    try:
        return primary(), "primary"
    except Exception:
        return fallback(), "fallback"


# (?<![\w-]) rejects hyphen-prefixed lookalikes (data-id, data-href):
# '\b' alone treats '-' as a boundary, so '\bid' would match inside
# 'data-id' and return the wrong element's link
_ANCHOR_RE = (
    r"""<[^>]*(?<![\w-])id\s*=\s*["']{id}["'][^>]*(?<![\w-])href\s*=\s*["']([^"']+)["']"""
)
_ANCHOR_RE_HREF_FIRST = (
    r"""<[^>]*(?<![\w-])href\s*=\s*["']([^"']+)["'][^>]*(?<![\w-])id\s*=\s*["']{id}["']"""
)


def find_download_link(html: str, element_id: str) -> str:
    """S1 parse step (reference extraction.py:68-75: BeautifulSoup
    ``find(id=...)`` then ``.get('href')``): locate the anchor carrying
    the dataset link by its element id. Pure string function (stdlib
    regex, attribute order-insensitive) so the scrape control flow is
    testable without a network or bs4; raises ``LookupError`` exactly
    where the reference does when the element or href is missing."""
    import re

    for pat in (_ANCHOR_RE, _ANCHOR_RE_HREF_FIRST):
        m = re.search(pat.format(id=re.escape(element_id)), html, re.IGNORECASE)
        if m:
            return m.group(1)
    raise LookupError(f"no element with id {element_id!r} carrying an href")


def scrape_and_download(
    url: str,
    element_id: str,
    dest: str | Path,
    fetch: Callable[[str], str] | None = None,
    download: Callable[[str, str | Path], Path] | None = None,
) -> Path:
    """S1+S2 chain (reference extraction.py:45-98): fetch the catalog
    page, extract the dataset href by element id, download it to ``dest``.

    ``fetch``/``download`` are injectable transports — production wires
    HTTP (``http_download``); tests wire local-file fakes, which is what
    upgrades S1-S3 from env-stub to tested control flow. Defaults use
    ``requests`` and raise ``NotImplementedError`` where unavailable."""
    if fetch is None:
        def fetch(u: str) -> str:  # pragma: no cover - env
            try:
                import requests
            except ImportError as exc:
                raise NotImplementedError("requests not available") from exc
            resp = requests.get(u, timeout=15)
            resp.raise_for_status()
            return resp.text

    download = download or http_download
    link = find_download_link(fetch(url), element_id)
    return download(link, dest)


def http_download(url: str, dest: str | Path) -> Path:  # pragma: no cover - env
    """S2 stub: HTTP file download. Needs `requests`, absent here."""
    try:
        import requests  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "requests not available in this environment; provide the file "
            "locally or via acquire_with_fallback's fallback source"
        ) from exc
    resp = requests.get(url, timeout=60)
    resp.raise_for_status()
    dest = Path(dest)
    dest.write_bytes(resp.content)
    return dest


def gcs_download(
    bucket: str, blob: str, dest: str | Path, spark=None
):
    """S3: GCS blob download (reference extraction.py:100-177 uses the
    google-cloud-storage client).

    Spark-first path: with a live session, the bucket is just another
    Hadoop filesystem — ``remote_fs.fs_download`` copies the object via
    the gs:// connector, no Python GCS client needed, and the same code
    path is contract-tested against ``file://`` URIs (tests/test_remote_fs.py).
    For DATA (not metadata artifacts), skip the download entirely and
    ``spark.read`` the gs:// URI so bytes never touch the driver.

    Driver-only fallback (no session): the google-cloud-storage client,
    import-gated — absent in this environment."""
    if spark is not None:
        from . import remote_fs

        return remote_fs.fs_download(spark, f"gs://{bucket}/{blob}", dest)
    try:  # pragma: no cover - env
        from google.cloud import storage  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError("google-cloud-storage not available") from exc
    client = storage.Client()  # pragma: no cover - env
    b = client.bucket(bucket)  # pragma: no cover - env
    dest = Path(dest)  # pragma: no cover - env
    b.blob(blob).download_to_filename(dest)  # pragma: no cover - env
    return dest  # pragma: no cover - env


def union_sheets(frames: list[DataFrame]) -> DataFrame:
    """O3: fuse per-sheet DataFrames (year ranges) into one relation,
    aligning by column name and tolerating schema drift across sheets."""
    if not frames:
        raise ValueError("no frames to union")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan — the interchange format most raw LLM-corpus dumps
    arrive in. An explicit schema skips Spark's inference pass (which
    reads the data TWICE — never acceptable at corpus scale); corrupt
    records land in ``_corrupt_record`` instead of failing the scan
    (PERMISSIVE), mirroring the CSV quarantine reader."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row", schema=None) -> DataFrame:
    """XML scan (Spark 4 native): elements matching ``row_tag`` become
    rows. An explicit schema skips inference (which reads the data
    twice); XML never pushes filters/projections into the parse, so at
    scale this is an INGESTION format — land once, convert to parquet,
    query the parquet."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)
