"""REST → DataFrame ingestion.

Restates the reference's four source shapes (SURVEY §2.1):

- S1/S5 driver GET → table (:func:`fetch_json` + :func:`records_to_df`);
  auth headers, raise-for-status (`L:39–75`, `S:114–144`). The
  payload is typed on the driver but handed to Spark as an RDD-backed
  leaf, so the transforms stacked on it run in executor tasks instead
  of being re-evaluated by the optimizer on every action.
- S2 paginated/ordered fetch (:func:`paginated_fetch`) — the
  datatable ``length/start`` protocol (`L:77–126`).
- S3 **distributed fan-out** (:func:`distributed_fetch`) — the
  reference's asyncio gather of ≤11k report GETs (`L:129–164`)
  becomes ``mapInPandas`` over a requests DataFrame: each executor
  partition performs its slice of the HTTP calls, failures are
  captured per-row as (status, error) columns instead of aborting
  (T5 semantics, `L:158–162`). This is the piece that actually
  scales — the id set never lands on the driver.
- S4 query-param pushdown is just URL construction here (the
  "predicate" is encoded in the request column upstream).

Transports are injectable callables ``(url, headers) -> (status,
body)`` so pipelines are testable without a network; the default is
stdlib urllib.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schema import flatten_struct_columns

Transport = Callable[[str, dict], tuple[int, str]]


def urllib_transport(timeout: float = 600.0) -> Transport:
    """Default transport: stdlib urllib GET with the reference's
    600 s ceiling (`L:131`). Returns (status, body); transport-level
    failures surface as status=-1 with the error text as body."""

    def _get(url: str, headers: dict) -> tuple[int, str]:
        import urllib.request

        req = urllib.request.Request(url, headers=headers or {})
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return resp.status, resp.read().decode("utf-8", "replace")
        except Exception as ex:  # noqa: BLE001 — per-request capture (T5)
            return -1, str(ex)

    return _get


def fetch_json(
    transport: Transport,
    url: str,
    headers: dict | None = None,
    envelope_key: str | None = None,
) -> list[dict]:
    """Driver-side GET → list of records (S1).

    *envelope_key* unwraps ``{"data": [...]}`` / ``{"report": [...]}``
    subtrees (N2, `L:95,135`). Raises on non-2xx like the reference's
    ``raise_for_status`` (`L:44`).
    """
    status, body = transport(url, headers or {})
    if not (200 <= status < 300):
        raise RuntimeError(f"GET {url} failed: status={status} body={body[:200]}")
    payload = json.loads(body)
    if envelope_key is not None:
        payload = payload[envelope_key]
    if isinstance(payload, dict):
        payload = [payload]
    return payload


def paginated_fetch(
    transport: Transport,
    url_template: str,
    headers: dict | None = None,
    page_size: int = 11000,
    max_pages: int = 1,
    envelope_key: str | None = None,
    id_key: str | None = None,
) -> list[dict]:
    """S2: ``length=&start=`` pagination (datatable protocol, `L:78`).

    The reference fetches one jumbo page (length=11000); *max_pages*
    generalizes it. Stops early on a short (ragged) last page, and
    defends against datatable servers that ignore ``start=`` past the
    end — a repeated page stops the walk instead of duplicating
    records forever.

    When the feed has row identity, pass *id_key*: the walk stops
    only when a page contributes NO unseen ids (precise — a feed
    whose consecutive pages legitimately hold identical-looking
    records keeps paginating). Without *id_key* the defense is a
    whole-page equality heuristic, which cannot distinguish a
    misbehaving server from a feed whose adjacent pages are
    genuinely identical; such feeds should provide *id_key*.
    """
    records: list[dict] = []
    prev: list[dict] | None = None
    seen: set = set()
    for page in range(max_pages):
        url = url_template.format(length=page_size, start=page * page_size)
        batch = fetch_json(transport, url, headers, envelope_key)
        if id_key is not None:
            fresh = [r for r in batch if r.get(id_key) not in seen]
            if page > 0 and not fresh:
                break  # nothing new — server ignored start=
            seen.update(r.get(id_key) for r in fresh)
            records.extend(fresh)
        else:
            if prev is not None and batch == prev:
                break  # server ignored start= — same page again
            records.extend(batch)
            prev = batch
        if len(batch) < page_size:
            break
    return records


def records_to_df(
    spark: SparkSession,
    records: list[dict],
    schema: T.StructType | str | None = None,
    flatten: bool = True,
) -> DataFrame:
    """JSON records → DataFrame (`pandas.json_normalize` analog, N1).

    The records already sit parsed in the driver (they came through
    one HTTP response, so they're bounded by definition), so types
    come from local Arrow inference (``pa.Table.from_pylist`` →
    ``createDataFrame``) with no inference job. The frame that comes
    back is backed by an RDD (a lazy ``localCheckpoint``), not a
    ``LocalRelation``: Catalyst's ``ConvertToLocalRelation`` evaluates
    every Project/Filter over a ``LocalRelation`` on the driver, in
    interpreted mode, each time a plan over it is optimized: once
    per action, again per appearance in a plan, and again inside
    AQE's re-optimization. For 10k Sercom tasks under the flatten +
    timestamp-parse chain that rule took 1.4-1.7 s of driver time per
    incremental run on 4 cores; over the checkpointed leaf the same
    expressions run as generated code in executor tasks. The first
    action stores the rows executor-side, so later actions do not
    rebuild them; like every ``localCheckpoint`` those blocks are not
    replicated and have no lineage to recompute from (SCALING.md).

    Payloads Arrow can't type the way JSON inference would (mixed-type
    fields, all-null or empty-list-only fields, ints beyond int64)
    fall back to ``spark.read.json`` inference over a parallelized
    payload, which promotes to string the way the reference's pandas
    path does. An explicit *schema* also takes the read.json route
    (genuinely big fan-outs belong in :func:`distributed_fetch`, not
    here). Nested structs are flattened to ``a_b`` columns like the
    reference's ``.``→``_`` rename.
    """
    df = _arrow_df(spark, records) if schema is None and records else None
    if df is None:
        df = _json_df(spark, records, schema)
    return flatten_struct_columns(df) if flatten else df


def _json_df(
    spark: SparkSession, records: list[dict], schema: T.StructType | str | None = None
) -> DataFrame:
    """``spark.read.json`` over the parallelized payload (one
    inference job unless *schema* is given)."""
    rdd = spark.sparkContext.parallelize([json.dumps(r) for r in records] or [""])
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(rdd)


def _arrow_df(spark: SparkSession, records: list[dict]) -> DataFrame | None:
    """No-job inference: list of dicts → Arrow table → RDD-backed DF.

    Returns None when Arrow inference would diverge from JSON
    inference (mixed types raise; all-null fields infer as Arrow
    ``null`` where read.json says string) — caller falls back.
    Columns are sorted alphabetically to match read.json's field
    ordering (Arrow already sorts nested struct fields).
    """
    import pyarrow as pa

    def has_null_type(t: pa.DataType) -> bool:
        if pa.types.is_null(t):
            return True
        if pa.types.is_struct(t):
            return any(has_null_type(f.type) for f in t)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return has_null_type(t.value_type)
        if pa.types.is_map(t):
            return has_null_type(t.key_type) or has_null_type(t.item_type)
        return False

    # from_pylist takes the column set from the FIRST row; ragged
    # payloads (drift) must contribute the UNION of keys, missing →
    # NULL, to match read.json's semantics
    keys: set[str] = set()
    for r in records:
        keys.update(r)
    columns = sorted(keys)
    normalized = [{k: r.get(k) for k in columns} for r in records]
    try:
        tbl = pa.Table.from_pylist(normalized)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
        # includes ints beyond int64 — read.json widens, Arrow can't
        return None
    if any(has_null_type(f.type) for f in tbl.schema):
        return None
    # lazy: no job here; the first action materializes the blocks
    return spark.createDataFrame(tbl).localCheckpoint(eager=False)


def distributed_fetch(
    requests_df: DataFrame,
    transport: Transport,
    url_col: str = "url",
    headers: dict | None = None,
) -> DataFrame:
    """S3: one HTTP GET per row, executed on the executors.

    Input: a DataFrame with a URL column (plus any id columns to
    carry through). Output: input columns + ``status`` (int, -1 on
    transport error) + ``body`` (payload or error text). Per-row
    failure capture, the run never aborts (T5, `L:158–162`).

    Scale: ``repartition`` the requests to bound per-target
    concurrency; each partition reuses one transport. Replaces the
    driver-side asyncio fan-out — requests never serialize through
    the driver.
    """
    in_schema = requests_df.schema
    out_schema = T.StructType(
        list(in_schema.fields)
        + [
            T.StructField("status", T.IntegerType()),
            T.StructField("body", T.StringType()),
        ]
    )
    hdrs = dict(headers or {})

    def run_partition(batches: Iterator) -> Iterator:
        for pdf in batches:
            statuses, bodies = [], []
            for url in pdf[url_col]:
                s, b = transport(url, hdrs)
                statuses.append(s)
                bodies.append(b)
            pdf = pdf.copy()
            pdf["status"] = statuses
            pdf["body"] = bodies
            yield pdf

    return requests_df.mapInPandas(run_partition, schema=out_schema)


def parse_fetched_json(
    fetched: DataFrame,
    payload_schema: T.StructType | str,
    body_col: str = "body",
    envelope_key: str | None = None,
) -> DataFrame:
    """Typed explode of :func:`distributed_fetch` bodies.

    Rows with non-2xx status pass through the filter upstream; here
    the JSON body (optionally an envelope array under *envelope_key*)
    is parsed with an explicit schema and exploded to one row per
    record — all JVM-side (``from_json``), no Python.
    """
    from pyspark.sql import functions as F

    if isinstance(payload_schema, str):
        payload_schema = T.StructType.fromDDL(payload_schema)
    if envelope_key is not None:
        arr_schema = T.StructType(
            [T.StructField(envelope_key, T.ArrayType(payload_schema))]
        )
        parsed = fetched.withColumn(
            "__rec",
            F.explode(
                F.from_json(F.col(body_col), arr_schema)[envelope_key]
            ),
        )
    else:
        parsed = fetched.withColumn(
            "__rec", F.from_json(F.col(body_col), payload_schema)
        )
    keep = [c for c in fetched.columns if c != body_col]
    return parsed.select(*keep, "__rec.*")
