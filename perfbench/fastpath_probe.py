"""Cold layer times of the CLI's driver-only path, in this fresh process.

    python3 perfbench/fastpath_probe.py EXPORT.xml OUT_DIR

Prints one JSON line: the import of the CLI and fast-path modules, the
conversion, and each of the three writers (parquet includes its cold
pyarrow import, as a CLI parquet run pays it).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(path: str, out: str) -> dict[str, float]:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    res = {}
    t0 = time.perf_counter()
    import greenbuttonengine_spark.cli  # noqa: F401
    from greenbuttonengine_spark.espi import fastpath

    t1 = time.perf_counter()
    rows, _ = fastpath.convert_file(path)
    t2 = time.perf_counter()
    res["cli.import_s"], res["fastpath.convert_s"] = t1 - t0, t2 - t1
    for key, fn, name in (("fastpath.csv_s", fastpath.csv_lines, "probe.csv"),
                          ("fastpath.influx_s", fastpath.influx_lines, "probe.txt")):
        t = time.perf_counter()
        with open(os.path.join(out, name), "w") as fh:
            fh.write("".join(line + "\n" for line in fn(rows)))
        res[key] = time.perf_counter() - t
    t = time.perf_counter()
    fastpath.write_parquet_local(rows, os.path.join(out, "probe.parquet"))
    res["fastpath.parquet_s"] = time.perf_counter() - t
    return res


if __name__ == "__main__":
    print(json.dumps(main(sys.argv[1], sys.argv[2])))
