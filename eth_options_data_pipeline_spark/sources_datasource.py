"""Spark 4 Python DataSource: the REST-shaped ticker connector.

The reference's source is an HTTP GET returning an options-chain JSON
array (main.py:94-104). At engine scale the connector is a first-class
DataSource so reads are planned, partitioned, and pushed to executors —
not a driver-side requests.get. This implementation generates the
deterministic synthetic chain (same shape as sources.synthetic_tickers)
partition-by-partition; a production variant swaps `_rows_for_slice`
for paged HTTP fetches with the same partitioning contract.

Usage:
    spark.dataSource.register(TickerDataSource)
    df = (spark.read.format("eth_tickers")
          .option("as_of_date", "2025-10-27")
          .option("n_strikes", "40")
          .option("num_partitions", "4")
          .load())
"""

from __future__ import annotations

import datetime as dt
import os
import sys

from pyspark.cloudpickle import register_pickle_by_value
from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceWriter, InputPartition,
    SimpleDataSourceStreamReader, WriterCommitMessage,
)
from pyspark.sql.types import StructType

from eth_options_data_pipeline_spark.schemas import TICKER_RAW

# The DataSource class is cloudpickled to Python workers, which do not
# necessarily have this package on sys.path (the driver contract only
# puts it on the DRIVER's path). By-value registration makes the
# pickle self-contained.
register_pickle_by_value(sys.modules[__name__])


def _expiry_ladder(as_of: dt.date) -> list[dt.date]:
    d3 = as_of + dt.timedelta(days=3)
    fri1 = d3 + dt.timedelta(days=(4 - d3.weekday()) % 7)
    return [as_of + dt.timedelta(days=1), as_of + dt.timedelta(days=2),
            fri1, fri1 + dt.timedelta(days=7)]


def _resolve_fetcher(spec: str):
    """Resolve a ``pkg.module:callable`` option string to the fetcher.

    DataSource options travel Spark's string-only option map, so the
    injection point is an import path, resolved ON THE EXECUTOR — the
    same way production Spark connectors take a class name. The package
    providing the fetcher ships to workers like any other dependency
    (--py-files / the image)."""
    import importlib

    mod_name, _, fn_name = spec.partition(":")
    return getattr(importlib.import_module(mod_name), fn_name)


def http_json_fetcher(page: int, num_pages: int, options: dict):
    """The production fetch path (reference main.py:94-104: a GET
    returning an options-chain JSON array), paged by partition index so
    every executor pulls only its slice. Select it with

        .option("fetcher",
                "eth_options_data_pipeline_spark.sources_datasource:http_json_fetcher")
        .option("endpoint", "https://<host>/v1/tickers")

    Yields TICKER_RAW-shaped string tuples. `requests` is imported at
    call time: the hermetic build/test environment never exercises this
    path (tests inject a fake fetcher through the same contract)."""
    import requests  # deferred — only the production path needs it

    resp = requests.get(
        options["endpoint"],
        params={"page": page, "pages": num_pages,
                "category": options.get("category", "option")},
        timeout=float(options.get("http_timeout", "30")),
    )
    resp.raise_for_status()

    def s(v):
        # TICKER_RAW is all-string (numerics are parsed downstream with
        # try_cast, matching the reference's coercive casts); JSON APIs
        # commonly return numeric strike/spot/OI, which would fail the
        # executor-side Arrow conversion if yielded raw
        return None if v is None else str(v)

    for t in resp.json().get("result", {}).get("list", []):
        yield (
            s(t.get("symbol")), s(t.get("contract_type")),
            s(t.get("strike_price")), s(t.get("spot_price")),
            s(t.get("mark_price")), s(t.get("open_interest")),
        )


class TickerReader(DataSourceReader):
    def __init__(self, options: dict):
        self.as_of = dt.date.fromisoformat(options.get("as_of_date", "2025-10-27"))
        self.spot = float(options.get("spot", "3200.0"))
        self.n_strikes = int(options.get("n_strikes", "40"))
        self.num_partitions = int(options.get("num_partitions", "4"))
        # optional injected fetch path ("module:callable"); default is
        # the deterministic synthetic chain below
        self.fetcher_spec = options.get("fetcher")
        self.raw_options = dict(options)

    def partitions(self):
        # one partition per expiry-bucket slice; executors read slices
        # independently (the HTTP variant pages the chain the same way)
        return [InputPartition(i) for i in range(self.num_partitions)]

    def read(self, partition: InputPartition):
        if self.fetcher_spec:
            fetch = _resolve_fetcher(self.fetcher_spec)
            yield from fetch(partition.value, self.num_partitions, self.raw_options)
            return
        expiries = _expiry_ladder(self.as_of)
        step = self.spot * 0.02
        idx = partition.value
        for e_i, exp in enumerate(expiries):
            if e_i % self.num_partitions != idx:
                continue
            tok = exp.strftime("%d%m%y")
            for i in range(-self.n_strikes // 2, self.n_strikes // 2 + 1):
                strike = round(self.spot + i * step, 2)
                for ct, p in (("call_options", "C"), ("put_options", "P")):
                    yield (
                        f"{p}-ETH-{int(strike)}-{tok}", ct, str(strike),
                        str(self.spot),
                        str(round(abs(self.spot - strike) * 0.1 + 5.0 + i * 0.01, 2)),
                        str(abs(i) * 10 + (3 if ct == "call_options" else 7)),
                    )


class TickerStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the connector: each micro-batch is one hourly
    snapshot drop (offset = batch index; the HTTP variant polls the
    endpoint with the same offset bookkeeping). Deterministic: batch i
    shifts every OI by +i so downstream state derivation is testable.
    """

    def __init__(self, options: dict):
        self.batch = TickerReader(options)
        self.max_batches = int(options.get("max_batches", "3"))

    def initialOffset(self) -> dict:
        return {"batch": 0}

    def read(self, start: dict):
        b = start["batch"]
        if b >= self.max_batches:
            return iter([]), start
        rows = []
        for i in range(self.batch.num_partitions):
            for sym, ct, strike, spot, mark, oi in self.batch.read(InputPartition(i)):
                rows.append((sym, ct, strike, spot, mark, str(int(oi) + b)))
        return iter(rows), {"batch": b + 1}

    def _rows_for_batch(self, b: int):
        for i in range(self.batch.num_partitions):
            for sym, ct, strike, spot, mark, oi in self.batch.read(InputPartition(i)):
                yield (sym, ct, strike, spot, mark, str(int(oi) + b))

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay for crash recovery / cache misses —
        without this, Spark's fallback raises NotImplementedError the
        first time the prefetch cache can't serve a batch (e.g. an
        empty batch or a restarted query)."""
        for b in range(start["batch"], end["batch"]):
            yield from self._rows_for_batch(b)

    def commit(self, end: dict) -> None:
        pass


class _TickerCommit(WriterCommitMessage):
    def __init__(self, tmp_name: str, final_name: str):
        self.tmp_name = tmp_name
        self.final_name = final_name


class TickerWriter(DataSourceWriter):
    """Writer face: lands TICKER_RAW rows as line-delimited JSON drop
    files (the format ``sources.read_ticker_json`` ingests), with a
    two-phase task-commit protocol:

      * each task writes ``_tmp_<uuid>.json`` (underscore-prefixed =
        invisible to Spark/Hadoop listing if a reader races the write)
        and returns the name in its commit message;
      * the driver's ``commit`` renames every temp to its final
        ``part-<uuid>.json`` only after ALL tasks succeeded; ``abort``
        deletes the temps. A task that ran twice (speculation/retry)
        leaves an orphan temp that abort/commit never promotes —
        the same promote-on-commit contract as Hadoop output
        committers, at drop-file granularity.
    """

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator):
        import json as _json
        import uuid as _uuid

        os.makedirs(self.path, exist_ok=True)
        uid = _uuid.uuid4().hex
        tmp = os.path.join(self.path, f"_tmp_{uid}.json")
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _TickerCommit(f"_tmp_{uid}.json", f"part-{uid}.json")

    def commit(self, messages):
        for m in messages:
            src = os.path.join(self.path, m.tmp_name)
            if os.path.exists(src):
                os.rename(src, os.path.join(self.path, m.final_name))

    def abort(self, messages):
        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.tmp_name))
            except OSError:
                pass


class TickerDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "eth_tickers"

    def schema(self) -> StructType:
        return TICKER_RAW

    def reader(self, schema: StructType) -> DataSourceReader:
        return TickerReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return TickerWriter(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return TickerStreamReader(self.options)
