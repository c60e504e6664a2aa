"""Build engine.zip for spark-submit --py-files: the package plus the
Python worker module its sessions run (pyspark_graft_worker.py, at the
zip's root).

    python tools/package.py [--out engine.zip]
    spark-submit --py-files engine.zip jobs/extract.py ...
"""

from __future__ import annotations

import argparse
import os
import zipfile

PKG = "pdf_to_text_extraction_service_spark"
WORKER = "pyspark_graft_worker.py"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="engine.zip")
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(os.path.join(root, PKG)):
            for name in filenames:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(dirpath, name)
                zf.write(full, os.path.relpath(full, root))
        zf.write(os.path.join(root, WORKER), WORKER)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
