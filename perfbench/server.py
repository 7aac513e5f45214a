"""Server process: build the session over generated inputs and serve it
with ``brahmand_spark.server.serve`` on an ephemeral localhost port.

Prints one ``READY {json}`` line on stdout (port, set-up phase times,
versions), then serves until it is terminated.

    python3 perfbench/server.py DATA_DIR RUN_DIR T0 WRITES
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    data_dir, run_dir, t0, writes = argv
    import engine
    from brahmand_spark.server import serve

    spark = engine.start_spark(run_dir)
    jvm_s = time.time() - float(t0)
    t_build = time.perf_counter()
    session = engine.build(spark, data_dir, os.path.join(run_dir, "tmp"),
                           writes == "1")
    build_s = time.perf_counter() - t_build
    httpd = serve(session, host="127.0.0.1", port=0)
    print("READY " + json.dumps({
        "port": httpd.server_address[1], "jvm_s": jvm_s,
        "build_s": build_s, "env": engine.versions(spark),
    }), flush=True)
    httpd.serve_forever()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
