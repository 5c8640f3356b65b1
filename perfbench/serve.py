"""Server process of the service workload: one engine session behind
``http_api.serve_background``.

    python3 perfbench/serve.py RUN_DIR [EVENT_LOG_DIR]

Prints ``{"port": N}`` once the server accepts requests, serves until its
standard input closes, then stops the server, the session and the JVM.
"""

from __future__ import annotations

import json
import sys

from go_web_mapreduce_spark.http_api import serve_background
from go_web_mapreduce_spark.session import get_spark

import sessions


def main() -> None:
    conf = sessions.run_conf(sys.argv[1])
    if len(sys.argv) > 2:
        conf.update(sessions.event_log_conf(sys.argv[2]))
    spark = get_spark("perfbench-service", extra_conf=conf)
    server = serve_background(spark)
    print(json.dumps({"port": server.server_address[1]}), flush=True)
    sys.stdin.read()
    server.shutdown()
    server.server_close()
    sessions.stop(spark)


if __name__ == "__main__":
    main()
