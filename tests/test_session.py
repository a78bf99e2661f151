"""Session defaults (osm_render_spark/session.py) that only show in a
fresh process: Python workers must import the package whatever the
driver's working directory and PYTHONPATH."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_workers_import_package_outside_repo(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})  # the driver's own import
        from osm_render_spark.session import get_spark

        spark = get_spark(
            "worker_import_probe", cpus=1,
            extra_conf={{"spark.driver.memory": "1g"}},
        )

        def kernel(batches):
            import osm_render_spark.session  # noqa: F401 (in the worker)
            yield from batches

        rows = spark.range(3).mapInPandas(kernel, "id long").collect()
        print("ROWS", len(rows))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert "ROWS 3" in res.stdout
