"""The session factory's contract with Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A UDF pickled by reference to this package must import in the
    worker when the session starts outside the checkout with no PYTHONPATH:
    ``get_spark`` puts the checkout on the workers' path."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from odns_dataimporter_spark.odns.files import extract_file_date_from_name
        from odns_dataimporter_spark.session import get_spark

        spark = get_spark(cpus=1)
        date = F.udf(extract_file_date_from_name, "string")
        row = spark.range(1).select(date(F.lit("/x/tcp_2024-05-01.csv.gz"))).first()
        print("RESULT", row[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "RESULT 2024-05-01" in out.stdout.splitlines(), out.stderr[-3000:]
