"""Sinks (K1/K2 parity + cluster-idiomatic analogs).

* console  — K1 (/root/reference/src/main.rs:83-85,105-107)
* parquet  — durable file sink (exactly-once via checkpoint)
* memory   — deterministic test sink (processAllAvailable)
* zmq      — K2 (/root/reference/src/publisher.rs:10-25): PUB socket,
  fire-and-forget per message; publish errors logged, never fatal
  (main.rs:89-93). Gated on pyzmq availability; NDJSON-file publisher
  stands in for tests so the foreachBatch plumbing is exercised either
  way. At cluster scale the idiomatic analog is the Kafka sink with
  binary `value` — same envelope bytes.
* partitioned — one publisher per partition, opened, fed and closed
  inside the same mapInArrow pass that encodes (one Python hop; only
  per-partition counts return to the driver).
"""

from __future__ import annotations

import logging
import os

import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions.ticks import publishable
from .encode import encode_columns, encode_payloads, encode_stream

log = logging.getLogger(__name__)

try:
    import zmq  # type: ignore
    HAVE_ZMQ = True
except ImportError:
    zmq = None
    HAVE_ZMQ = False


class ZmqPublisher:
    """PUB socket publisher (publisher.rs:10-25 semantics: bind once,
    send per message, at-most-once)."""

    def __init__(self, address: str = "tcp://*:9500"):
        if not HAVE_ZMQ:
            raise ImportError("pyzmq not available in this environment")
        self._ctx = zmq.Context.instance()
        self._sock = self._ctx.socket(zmq.PUB)
        self._sock.bind(address)

    def publish(self, payload: bytes) -> None:
        try:
            self._sock.send(payload, 0)
        except Exception as exc:  # noqa: BLE001 — non-fatal, main.rs:89-93
            log.error("failed to publish message: %s", exc)


class FilePublisher:
    """Test stand-in: length-prefixed frames appended to a local file —
    same at-most-once, fire-and-forget contract as the ZMQ PUB edge.
    Holds the handle open (bind-once like the PUB socket); one flush per
    message preserves the per-message visibility the tests rely on."""

    def __init__(self, path: str, flush_each: bool = True):
        self.path = path
        self._flush_each = flush_each
        self._f = open(path, "ab")  # noqa: SIM115 — lifetime = publisher

    def publish(self, payload: bytes) -> None:
        self._f.write(len(payload).to_bytes(4, "big") + payload)
        if self._flush_each:
            self._f.flush()

    def close(self) -> None:
        self._f.close()


class PartitionedFilePublisherFactory:
    """Executor-side publisher factory for the partitioned publish path:
    each partition opens its own frame file ``{base}.{uuid}`` (the file
    analog of per-partition sockets). Fan-in = reading ``{base}.*``.
    Picklable: carries only the base path."""

    def __init__(self, base_path: str):
        self.base_path = base_path

    def __call__(self) -> FilePublisher:
        import uuid
        # batch flush: the partition's close() flushes once, not per frame
        return FilePublisher(f"{self.base_path}.{uuid.uuid4().hex}",
                             flush_each=False)


def publish_batch(batch_df: DataFrame, publisher) -> int:
    """foreachBatch body: filter to the closed wire set (Unknown never
    published, main.rs:117-119), proto-encode executor-side, then drain
    encoded payloads through the publisher. Returns messages published.

    This is the single-socket reference-parity edge (one PUB socket,
    publisher.rs:10-25): payloads funnel through the driver, which caps
    throughput at one socket's rate.  The payload column is collected
    with one ``toArrow()`` — one job for the whole micro-batch, and
    Arrow returns the partitions in order, so frames keep arrival order
    (the batch is not repartitioned).  The driver therefore holds one
    micro-batch's payloads at once (about 100 bytes a frame), a size the
    source bounds per trigger (``max_files_per_trigger``).  For fan-out
    at scale use publish_batch_partitioned below."""
    payloads = encode_stream(publishable(batch_df)).select("payload").toArrow()
    for payload in payloads.column(0).to_pylist():
        publisher.publish(payload)
    return payloads.num_rows


def publish_batch_partitioned(batch_df: DataFrame, publisher_factory) -> int:
    """Partition-parallel publish: every partition encodes and drains its
    payloads through its OWN publisher (opened executor-side by
    ``publisher_factory``) in one Python pass, so nothing funnels through
    the driver and throughput scales with partitions. Returns total
    messages published.

    This is the Kafka-shaped edge: with real brokers the factory opens a
    producer (or a ZMQ socket that *connects* to an XSUB/forwarder
    device — many publishers, one fan-in) per partition. Each partition
    yields one count row; the driver collects and sums them, so the
    publish stays one job with no extra shuffle."""
    # a single replay file arrives as one input partition; spread the
    # batch so the Python encode and the publish fan out across cores —
    # the row shuffle is cheap next to per-row encoding
    target = batch_df.sparkSession.sparkContext.defaultParallelism
    columns = encode_columns(publishable(batch_df).repartition(target))

    def _publish(batches):
        pub = publisher_factory()
        n = 0
        try:
            for batch in batches:
                for payload in encode_payloads(batch):
                    pub.publish(payload)
                n += batch.num_rows
        finally:
            close = getattr(pub, "close", None)
            if callable(close):
                close()
        yield pa.RecordBatch.from_pydict({"n": [n]})

    return sum(r.n for r in columns.mapInArrow(_publish, "n long").collect())


def start_publish_stream_partitioned(stream_df: DataFrame, publisher_factory,
                                     checkpoint_dir: str,
                                     query_name: str = "publish_partitioned"):
    """writeStream.foreachBatch wiring of the partition-parallel edge."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        n = publish_batch_partitioned(batch_df, publisher_factory)
        log.info("epoch %s: published %d messages (partitioned)", epoch_id, n)

    return (stream_df.writeStream
            .queryName(query_name)
            .option("checkpointLocation", os.path.join(checkpoint_dir, query_name))
            .foreachBatch(_sink)
            .start())


def start_publish_stream(stream_df: DataFrame, publisher,
                         checkpoint_dir: str, query_name: str = "zmq_publish"):
    """writeStream.foreachBatch wiring of the publisher edge."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        n = publish_batch(batch_df, publisher)
        log.info("epoch %s: published %d messages", epoch_id, n)

    return (stream_df.writeStream
            .queryName(query_name)
            .option("checkpointLocation", os.path.join(checkpoint_dir, query_name))
            .foreachBatch(_sink)
            .start())


def start_console_stream(stream_df: DataFrame, checkpoint_dir: str):
    """K1: conditional console sink (the -v flag, main.rs:46-47)."""
    return (stream_df.writeStream.format("console")
            .option("truncate", "false")
            .option("checkpointLocation", os.path.join(checkpoint_dir, "console"))
            .start())


def start_parquet_stream(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    return (stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(checkpoint_dir, "parquet"))
            .start())
