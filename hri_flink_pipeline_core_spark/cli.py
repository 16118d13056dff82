"""CLI entry point — parity with the reference's standalone job
(jobtest/JsonValidationJob.scala:25-73: --brokers / --password / --input /
--batch-delay) plus the production Mgmt-API flags
(BaseValidationJob.scala:43-113).

Run: ``python -m hri_flink_pipeline_core_spark.cli --brokers b:9092
--input ingest.tenant.di.in [--password ...] [--mgmt-url ...]``

Without --mgmt-url the tracker's terminal notifications loop back to the
notification topic (BaseValidationJob.scala:273-286, README.md:33); with
it they go to the HTTP sink.
"""

from __future__ import annotations

import argparse

from .operators.tracker import DEFAULT_TIMEOUT_MS
from .operators.validation import json_validator
from .schemas import COUNT_EVENT_SCHEMA
from .session import get_spark
from .sinks import kafka as ksink
from .sinks.mgmt_api import MgmtApiSink, MgmtClient
from .sources import kafka as ksource
from .streaming.pipeline import (
    ValidationPipeline,
    parquet_dir_sink,
    read_parquet_dir_stream,
)
from .topics import derive_topics


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hri-spark-validation",
        description="HRI validation pipeline (PySpark Structured Streaming)",
    )
    p.add_argument("--brokers", "-b", required=True, nargs="+",
                   help="Kafka bootstrap servers")
    p.add_argument("--password", "-p", default=None,
                   help="SASL PLAIN password (IBM Event Streams api key)")
    p.add_argument("--input", "-i", required=True,
                   help="input topic: ingest.<tenant>.<dataIntegrator>[.<qualifier>].in")
    p.add_argument("--batch-delay", "-d", type=int, default=DEFAULT_TIMEOUT_MS,
                   help="batch completion delay in milliseconds")
    p.add_argument("--workdir", default="/tmp/hri-pipeline",
                   help="checkpoint/state directory")
    p.add_argument("--exactly-once", action="store_true",
                   help="write all Kafka sinks through transactional "
                        "producers (one transaction per micro-batch, "
                        "epoch commit log; reference parity with "
                        "Semantic.EXACTLY_ONCE — needs confluent-kafka). "
                        "Default: at-least-once built-in sink + "
                        "offset-identity idempotence contract")
    # Mgmt API (production mode)
    p.add_argument("--mgmt-url", default=None)
    p.add_argument("--client-id", default=None)
    p.add_argument("--client-secret", default=None)
    p.add_argument("--audience", default=None)
    p.add_argument("--oauth-url", default=None)
    return p


def main(argv=None) -> None:
    args = build_parser().parse_args(argv)
    topics = derive_topics(args.input)
    spark = get_spark("hri-validation-" + topics.tenant_id)

    client_opts = ksource.kafka_client_options(
        args.brokers,
        args.password,
        ksource.group_id(topics.input_topic, topics.output_topic),
    )
    bootstrap = ",".join(args.brokers)
    prod_opts = {**client_opts, **ksource.producer_options()}

    if args.exactly_once:
        from .sinks.kafka_tx import (
            KafkaPartitionedTransactionalWriter,
            confluent_producer_factory,
        )
        import os as _os

        # Bulk topics (*.out / *.invalid): executor-parallel exactly-once
        # — one transactional producer per partition, rows never route
        # through the driver (parity: the reference's parallel
        # EXACTLY_ONCE producers, BaseValidationJob.scala:252-259). The
        # control-plane notification sink below keeps the driver-side
        # single-transaction writer.
        def tx_sink(shape_fn, topic, tid):
            # NOTE the log path is tx-partition-commits-<tid> (a DIR of
            # per-partition logs), deliberately DIFFERENT from the old
            # driver-writer's tx-commits-<tid> FILE — reusing that path
            # would crash on upgrade (file where a dir is needed) and
            # the old whole-epoch records can't map to per-partition
            # granularity anyway. Upgrade cleanly: stop the query (no
            # in-flight replay), then restart with the new release.
            writer = KafkaPartitionedTransactionalWriter(
                bootstrap,
                f"hri-validation-{topics.tenant_id}-{tid}",
                producer_factory=confluent_producer_factory,
                commit_log_dir=_os.path.join(
                    args.workdir, f"tx-partition-commits-{tid}"
                ),
            )
            return lambda df, b: writer(shape_fn(df, topic), b)

        valid_sink = tx_sink(ksink.hri_record_sink, topics.output_topic, "out")
        invalid_sink = tx_sink(
            ksink.invalid_record_sink, topics.invalid_topic, "invalid"
        )
    else:
        valid_sink = lambda df, _b: ksink.write_kafka_batch(  # noqa: E731
            ksink.hri_record_sink(df, topics.output_topic), bootstrap, prod_opts
        )
        invalid_sink = lambda df, _b: ksink.write_kafka_batch(  # noqa: E731
            ksink.invalid_record_sink(df, topics.invalid_topic), bootstrap, prod_opts
        )

    pipe = ValidationPipeline(
        spark,
        validator=json_validator(),
        batch_completion_delay_ms=args.batch_delay,
        records_stream=ksource.read_hri_records_stream(
            spark, topics.input_topic, client_opts
        ),
        notifications_stream=ksource.read_notifications_stream(
            spark, topics.notification_topic, client_opts
        ),
        workdir=args.workdir,
        valid_sink=valid_sink,
        invalid_sink=invalid_sink,
    )

    if args.mgmt_url:
        sink = MgmtApiSink(
            tenant_id=topics.tenant_id,
            client=MgmtClient(
                args.mgmt_url, args.client_id, args.client_secret,
                args.audience, args.oauth_url,
            ),
        )
        pipe.notification_out_sink = lambda df, b: sink.foreach_batch_writer()(df, b)
    elif args.exactly_once:
        from .sinks.kafka_tx import (
            KafkaTransactionalWriter,
            confluent_producer_factory,
        )
        import os as _os

        _w = KafkaTransactionalWriter(
            bootstrap,
            f"hri-validation-{topics.tenant_id}-notif",
            producer_factory=confluent_producer_factory,
            commit_log=_os.path.join(args.workdir, "tx-commits-notif"),
        )
        pipe.notification_out_sink = lambda df, b: _w(
            ksink.notification_sink(df, topics.notification_topic), b
        )
    else:
        # loopback: terminal notifications back to the notification topic
        pipe.notification_out_sink = lambda df, _b: ksink.write_kafka_batch(
            ksink.notification_sink(df, topics.notification_topic), bootstrap, prod_opts
        )

    import os

    counts_dir = os.path.join(args.workdir, "counts")
    pipe.counts_sink = parquet_dir_sink(counts_dir)

    dim = pipe.start_notification_dim()
    pipe.start_validation(dim)

    counts_stream = read_parquet_dir_stream(spark, counts_dir, COUNT_EVENT_SCHEMA)
    notif_stream2 = ksource.read_notifications_stream(
        spark, topics.notification_topic, client_opts
    )
    pipe.start_tracker(counts_stream, notif_stream2)

    for q in pipe.queries:
        q.awaitTermination()


if __name__ == "__main__":
    main()
