"""Per-stage shuffle RECORDS vs BYTES for one query at one or more SF
dirs — the decomposition behind the q175 HITS findings. Records growing
linearly while bytes grow faster points at encoding/compression; records
growing super-linearly points at a plan term that multiplies rows.

Usage: python tools/profile_stages.py <query> <sf_dir> [sf_dir ...]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, ".")

import __spark_entry__ as E
from big_data_project_datapipeline_spark.session import get_spark


def rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1/{path}") as r:
        return json.load(r)


def stages(app: str):
    return {
        st["stageId"]: st
        for st in rest(f"applications/{app}/stages?status=complete")
    }


def main() -> None:
    query, sf_dirs = sys.argv[1], sys.argv[2:]
    spark = get_spark(extra_conf={"spark.ui.enabled": "true"})
    app = rest("applications")[0]["id"]
    qs = E.queries()
    for sf_dir in sf_dirs:
        before = set(stages(app))
        t0 = time.perf_counter()
        qs[query](spark, sf_dir).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        after = stages(app)
        new = [after[i] for i in sorted(set(after) - before)]
        tot_b = tot_r = 0
        lines = []
        for st in new:
            b = st.get("shuffleWriteBytes", 0)
            r = st.get("shuffleWriteRecords", 0)
            if b == 0 and r == 0:
                continue
            tot_b += b
            tot_r += r
            lines.append(
                f"  {st['stageId']:5d} {b / 1e6:9.2f} MB "
                f"{r / 1e6:8.3f} Mrec {b / r if r else 0:7.1f} B/rec"
            )
        print(
            f"== {query} @ {sf_dir}: wall {wall:.1f}s  "
            f"total {tot_b / 1e6:.1f} MB  {tot_r / 1e6:.3f} Mrec"
        )
        print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
