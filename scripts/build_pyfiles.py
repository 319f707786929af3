#!/usr/bin/env python
"""Build geomesa_spark.zip for spark-submit --py-files.

Usage: python scripts/build_pyfiles.py [OUT]   (OUT defaults to dist/geomesa_spark.zip)"""

import os
import sys
import zipfile

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
pkg = os.path.join(root, "geomesa_spark")
out = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else os.path.join(root, "dist", "geomesa_spark.zip")
os.makedirs(os.path.dirname(out), exist_ok=True)
with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
    for r, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(r, f)
                zf.write(full, os.path.join("geomesa_spark", os.path.relpath(full, pkg)))
print(out)
