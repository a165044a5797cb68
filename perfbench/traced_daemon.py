"""The ingest daemon with benchmark spans around its public calls, for
traced ``ingest_live`` runs:

    python3 perfbench/traced_daemon.py SPANS_FILE <daemon flags...>

It runs ``mqtt2clickhouse_spark.__main__.main`` and the product's own
``DemuxSink.foreach_batch`` unchanged; only the public calls they make
are wrapped in spans:

- ``session.get_spark``;
- ``DemuxSink.foreach_batch`` (the parent of the two below);
- ``ingest.parse.parse_messages_single``, which ``foreach_batch``
  imports at call time.  The wrapper persists the classified frame and
  counts it inside the span, so the parse runs there; it returns the
  persisted frame, on which the product's own ``persist()`` does
  nothing and its ``unpersist()`` frees the cache.  The extra count job
  is part of the tracing overhead;
- ``DemuxSink.write_batch``, whose returned counters the span records.
"""

from __future__ import annotations

import functools
import os
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from common import Tracer  # noqa: E402


def install(tracer: Tracer) -> None:
    from mqtt2clickhouse_spark import session
    from mqtt2clickhouse_spark.ingest import parse
    from mqtt2clickhouse_spark.ingest.sink import DemuxSink

    # (span id, batch id) of the foreach_batch running on this thread
    current = threading.local()

    def call(sp, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def wrap(owner, attr, name, body=call):
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent, batch = getattr(current, "top", (None, None))
            with tracer.span(name, parent, batch=batch) as sp:
                return body(sp, fn, *args, **kwargs)

        setattr(owner, attr, traced)

    def foreach_batch(sp, fn, self, batch_df, epoch_id):
        sp.rec["batch"] = epoch_id
        current.top = (sp.id, epoch_id)
        try:
            return fn(self, batch_df, epoch_id)
        finally:
            current.top = (None, None)

    def parse_messages_single(sp, fn, df):
        classified = fn(df).persist()
        sp.rec["rows"] = classified.count()
        return classified

    def write_batch(sp, fn, *args, **kwargs):
        counters = fn(*args, **kwargs)
        sp.rec.update(counters)
        return counters

    wrap(session, "get_spark", "session.get_spark")
    wrap(DemuxSink, "foreach_batch", "sink.foreach_batch", foreach_batch)
    wrap(parse, "parse_messages_single", "parse.parse_messages_single",
         parse_messages_single)
    wrap(DemuxSink, "write_batch", "sink.write_batch", write_batch)


def main() -> int:
    spans_path, argv = sys.argv[1], sys.argv[2:]
    tracer = Tracer()
    install(tracer)
    from mqtt2clickhouse_spark.__main__ import main as daemon_main

    try:
        return daemon_main(argv)
    finally:
        tracer.dump(spans_path)


if __name__ == "__main__":
    sys.exit(main())
