"""Package the engine for `spark-submit --py-files` (the north rule's
cluster launch path): zips the `detectingscc_spark` package into
dist/detectingscc_spark.zip, import-ready from executors' PYTHONPATH.

Usage:
  python tools/make_pyfiles.py          # -> dist/detectingscc_spark.zip
  spark-submit --master <cluster> \
      --py-files dist/detectingscc_spark.zip \
      tools/submit_main.py --algo scc --input graph.gr \
      --output out/ --checkpoint-dir ckpt/ -w 256

On a real cluster `<cluster>` is the YARN/K8s/standalone master and
`-w` is sized to executors x cores (`--master local[n]` runs it locally).
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "detectingscc_spark.zip")
    pkg = os.path.join(REPO, "detectingscc_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                z.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main()
