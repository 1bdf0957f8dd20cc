"""Session factory behaviour that only shows outside the test process."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_package_when_driver_cwd_is_elsewhere(tmp_path):
    """A driver started outside the repo root (package on the driver's
    sys.path only, not on PYTHONPATH) must still let Python workers
    import gdp_etl_spark."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from gdp_etl_spark.session import get_spark

        spark = get_spark("foreign_cwd", master="local[1]", shuffle_partitions=1)

        def fn(batches):
            import gdp_etl_spark  # noqa: F401  (the import under test)
            yield from batches

        print("ROWS", spark.range(3).mapInArrow(fn, "id long").count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS 3" in out.stdout, out.stderr[-2000:]
