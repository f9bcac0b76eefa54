"""dist/data_pipeline_spark.zip is the spark-submit --py-files package
(scripts/build_pyfiles.py). It must hold exactly the package's .py files,
byte for byte; after changing the package, rebuild it with
`python scripts/build_pyfiles.py`. No Spark needed."""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source_files() -> dict[str, bytes]:
    out = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, "data_pipeline_spark")):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, REPO)] = fh.read()
    return out


def test_dist_zip_matches_package_source():
    with zipfile.ZipFile(os.path.join(REPO, "dist", "data_pipeline_spark.zip")) as z:
        packaged = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    src = _source_files()
    rebuild = "stale zip: run python scripts/build_pyfiles.py"
    assert sorted(set(src) - set(packaged)) == [], f"missing from the zip; {rebuild}"
    assert sorted(set(packaged) - set(src)) == [], f"no longer in the package; {rebuild}"
    assert sorted(n for n in src if packaged[n] != src[n]) == [], f"differs; {rebuild}"
