"""Console entry point — the reference's CLI boot re-expressed over the
Spark service app.

Parity map (kinesis2sse.go:160-174, flag for flag):
- ``--routes`` JSON array of {stream, path, capacity, start} .. :173
- ``--port`` (default 4444) ................................... :168
- ``--region`` (default $AWS_REGION) .......................... :172
- ``--app-name-prefix`` (default kinesis2sse) ................. :169
- ``--debug`` ................................................. :174
- ``--shard-sync-interval-millis`` / ``--failover-time-millis``
  are KCL lease-coordination knobs with no Spark analog (Structured
  Streaming owns shard assignment); they are accepted for CLI parity
  and ignored ................................................. :170-171

Generalizations beyond the reference (documented, not silent):
- a route's ``stream`` may be a plain Kinesis stream name (combined
  with ``--region`` into ``kinesis://region/stream``, the reference's
  only source), a ``kafka://servers/topic`` URI, or a local/remote
  directory path of JSON-envelope files — the disableKCL seam's three
  source kinds (streaming/source.py).
- ``--checkpoint-dir`` opts INTO durable checkpoints (the reference is
  deliberately non-durable, service.go:113-116).

The reference validates region/routes/app-name-prefix before starting
(kinesis2sse.go:68-78) and exits non-zero on bad input; so does this.
"""

from __future__ import annotations

import argparse
import json
import logging
import sys
import uuid

from kinesis2sse_spark.app import RouteConfig, ServiceApp
from kinesis2sse_spark.streaming.serve import DEFAULT_CAPACITY


def parse_routes(unparsed: str, region: str) -> list[RouteConfig]:
    """Parse the --routes JSON array into RouteConfigs, validating the
    way the reference does (empty path / empty stream → error naming
    the route index, kinesis2sse.go:100-108)."""
    try:
        parsed = json.loads(unparsed)
    except json.JSONDecodeError as e:
        raise SystemExit(f"unable to parse routes: {e}")
    if not isinstance(parsed, list):
        raise SystemExit("routes must be a JSON array")
    routes: list[RouteConfig] = []
    for i, r in enumerate(parsed):
        path = r.get("path", "")
        stream = r.get("stream", "")
        if not path:
            raise SystemExit(f'route at index {i} has an empty "path"')
        if not stream:
            raise SystemExit(f'route at index {i} has an empty "stream"')
        if "://" in stream or "/" in stream:
            source = stream  # URI or directory — pass through
        else:
            if not region:
                raise SystemExit(
                    "region must be specified with the --region flag or "
                    "AWS_REGION environment variable and cannot be empty"
                )
            source = f"kinesis://{region}/{stream}"
        routes.append(
            RouteConfig(
                pattern=path if path.startswith("/") else "/" + path,
                source_dir=source,
                capacity=int(r.get("capacity") or DEFAULT_CAPACITY),
                start=r.get("start") or None,
            )
        )
    if not routes:
        raise SystemExit("at least one route must be specified with the --routes flag")
    return routes


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kinesis2sse-spark",
        description="Expose event streams as Server-Sent Events (SSE) via Spark",
    )
    p.add_argument("--routes", default="[]", help="array of JSON routes")
    p.add_argument("--port", type=int, default=4444, help="set the port")
    p.add_argument(
        "--region",
        default=None,
        help="set the region, if not already set by the AWS_REGION environment variable",
    )
    p.add_argument(
        "--app-name-prefix",
        default="kinesis2sse",
        help="set the app name prefix to which a random suffix will be appended",
    )
    p.add_argument(
        "--shard-sync-interval-millis", type=int, default=1_000,
        help="accepted for parity; lease coordination is Spark's job here",
    )
    p.add_argument(
        "--failover-time-millis", type=int, default=300_000,
        help="accepted for parity; lease coordination is Spark's job here",
    )
    p.add_argument("--debug", action="store_true", help="enable debug logging")
    p.add_argument(
        "--checkpoint-dir", default=None,
        help="opt into durable checkpoints (the reference is non-durable)",
    )
    p.add_argument(
        "--master", default="local[*]",
        help="Spark master URL (spark-submit overrides this in cluster use)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    import os

    args = build_parser().parse_args(argv)
    region = args.region if args.region is not None else os.environ.get("AWS_REGION", "")
    if not args.app_name_prefix:
        print(
            "app name prefix must be specified with the --app-name-prefix flag "
            "and cannot be empty",
            file=sys.stderr,
        )
        return 1
    try:
        routes = parse_routes(args.routes, region)
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 1

    logging.basicConfig(
        level=logging.DEBUG if args.debug else logging.INFO,
        format='{"level": "%(levelname)s", "msg": "%(message)s"}',
        stream=sys.stdout,
    )
    log = logging.getLogger(args.app_name_prefix)
    app_name = f"{args.app_name_prefix}-{uuid.uuid4()}"

    from kinesis2sse_spark.session import build_session

    spark = build_session(app_name=app_name, master=args.master)
    app = ServiceApp(
        spark, routes, port=args.port, checkpoint_dir=args.checkpoint_dir
    )
    app.start()
    log.info(f"serving {len(routes)} route(s) at {app.addr}")
    try:
        # Serve until interrupted — the reference blocks in http.Serve
        # the same way (service.go:158-166).
        for q in app.service._queries:
            q.awaitTermination()
        if not app.service._queries:  # no streaming queries: block on HTTP
            import threading

            threading.Event().wait()
    except KeyboardInterrupt:
        log.info("shutting down")
    finally:
        app.stop()
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
