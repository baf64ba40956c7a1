"""Split each HEADLINE query's wall time into DataFrame BUILD time
(driver-side py4j construction, scale-independent) and EXEC time
(noop-sink action), per guide §7.3. Usage:
  python tools/profile_build.py [sf_dir] [repeats]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, build_spark  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    spark = build_spark(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for w in ("case_fold", "token_count"):
        try:
            qs[w](spark, sf).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass

    rows = []
    for name in HEADLINE:
        fn = qs[name]
        best_build, best_exec = None, None
        for _ in range(repeats):
            t0 = time.perf_counter()
            df = fn(spark, sf)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            b, e = t1 - t0, t2 - t1
            if best_build is None or b < best_build:
                best_build = b
            if best_exec is None or e < best_exec:
                best_exec = e
        rows.append((name, best_build, best_exec))
        print(f"{name:24s} build {best_build:6.3f}s  exec {best_exec:6.3f}s", flush=True)

    rows.sort(key=lambda r: -r[1])
    print("\n== sorted by build time ==")
    for name, b, e in rows[:15]:
        print(f"{name:24s} build {b:6.3f}s  exec {e:6.3f}s")
    print(json.dumps({"total_build": round(sum(r[1] for r in rows), 3),
                      "total_exec": round(sum(r[2] for r in rows), 3)}))


if __name__ == "__main__":
    main()
