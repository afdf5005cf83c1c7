#!/usr/bin/env bash
# Build the --py-files zip for spark-submit (north rule: "ships as
# spark-submit --py-files package").  __spark_entry__._package_zip makes
# every copy of the zip: it stamps it with the sha256 of
# pastash_spark/**/*.py and rebuilds it only when that stamp is stale, so a
# session that ships the zip later reuses this one as is.
set -euo pipefail
cd "$(dirname "$0")/.."
python3 -c 'import os, __spark_entry__ as e; print(os.path.relpath(e._package_zip()))'
