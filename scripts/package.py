"""Build ccspark.zip for spark-submit --py-files.

Usage: python scripts/package.py [OUT_DIR]   (OUT_DIR defaults to dist/)
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out_dir: str = os.path.join(ROOT, "dist")) -> None:
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "ccspark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(ROOT, "ccspark")
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith((".py", ".csv", ".dat")):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    print(out)


if __name__ == "__main__":
    main(*sys.argv[1:2])
