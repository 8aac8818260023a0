"""S1/S2 — REST collection source with watermark param pushdown.

Reference: per table, ``GET {url}/{title}/{item}?…`` with an auth
header, unwrap ``response.json()['data']``, flatten
(mabna_tables_create.py:49-58; mabna_tables_update.py:46-55). The
incremental DAG pushes the watermark INTO the URL
(``meta.version=…&meta.version_op=gt`` — constants.yaml:7-9,
mabna_tables_update.py:46) so the server pre-filters: that manual
predicate pushdown is reproduced here, because Catalyst cannot push
into HTTP.

Spark has no native HTTP source; the wrapper fetches pages on the
driver (or, for many endpoints, distributes fetches via a parallelized
endpoint list) and lands JSON for ``spark.read.json``. ``requests`` is
import-gated — this container has no network, so tests exercise the
URL-building/pushdown logic and the JSON→DataFrame path with local
payloads.
"""

from __future__ import annotations

import json
import tempfile
from collections.abc import Iterable, Mapping

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

from .json_flatten import flatten

try:  # pragma: no cover - network lib optional in this environment
    import requests  # type: ignore
except Exception:  # pragma: no cover
    requests = None


def build_url(
    base_url: str,
    title: str,
    item: str,
    params: Mapping[str, object] | None = None,
) -> str:
    """Endpoint template ``{base}/{title}/{item}?k=v&…`` — the reference's
    f-string construction (mabna_tables_create.py:49) with explicit
    param encoding."""
    from urllib.parse import urlencode

    url = f"{base_url.rstrip('/')}/{title}/{item}"
    if params:
        url = f"{url}?{urlencode(dict(params))}"
    return url


def watermark_params(
    watermark: int | None, instrument_type: str | None = None, size: int = 500
) -> dict[str, object]:
    """The reference's incremental query params (constants.yaml:3-9):
    server-side ``meta.version > watermark`` plus page size — predicate
    pushdown over HTTP."""
    params: dict[str, object] = {"_size": size}
    if watermark is not None:
        params["meta.version"] = watermark
        params["meta.version_op"] = "gt"
    if instrument_type:
        params["instrument.type"] = instrument_type
    return params


def fetch_collection(
    url: str, token: str | None = None, timeout: int = 60
) -> list[dict]:
    """GET + auth header + ``['data']`` envelope unwrap (S2)."""
    if requests is None:
        raise RuntimeError(
            "requests/network unavailable — use json_records_to_df with "
            "locally landed payloads"
        )
    headers = {"Authorization": token} if token else {}
    resp = requests.get(url, headers=headers, timeout=timeout)
    resp.raise_for_status()
    return resp.json()["data"]


def json_records_to_df(
    spark: SparkSession, records: Iterable[Mapping], flatten_names: bool = True
) -> DataFrame:
    """JSON records → (flattened) DataFrame.

    Lands records as JSON-lines in a file and uses ``spark.read.json``
    so Spark owns schema inference (PERMISSIVE mode tolerates field
    additions — the reference's SELECT* tolerance, SURVEY.md §7.4.7).
    For big payloads this avoids driver-side ``createDataFrame``
    materialization. The file must outlive the lazy frame, so it lands
    in the driver's ``SparkFiles`` root directory, which
    ``SparkContext.stop()`` deletes: no landing file outlives the
    application that reads it.
    """
    tmp = tempfile.NamedTemporaryFile(
        "w", prefix="rest-", suffix=".jsonl", delete=False,
        dir=SparkFiles.getRootDirectory(),
    )
    with tmp as fh:
        for rec in records:
            fh.write(json.dumps(rec) + "\n")
    df = spark.read.json(tmp.name)
    return flatten(df) if flatten_names else df


def rest_source(
    spark: SparkSession,
    base_url: str,
    title: str,
    item: str,
    token: str | None = None,
    watermark: int | None = None,
    instrument_type: str | None = None,
) -> DataFrame:
    """Full S1 source: build URL (with pushdown params) → fetch → unwrap
    → flatten. One call per (title, item[, type]) — the config fan-out
    loop lives in plans.pipeline."""
    url = build_url(
        base_url, title, item, watermark_params(watermark, instrument_type)
    )
    records = fetch_collection(url, token)
    return json_records_to_df(spark, records)
