"""The engine session from a launching process that found the package
only through a ``sys.path`` insert, with a cwd outside the repo: the
Arrow-UDF queries run their Python in worker processes, which must be
able to import the package too."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from etl_ai_assistent_spark.session import _PACKAGE_PARENT

ARROW_UDF_QUERIES = (
    "q_chunk_recursive",
    "q_client_embed_profile",
    "q_docx_media",
    "q_docx_pipeline",
    "q_rag_judged",
)


def test_arrow_udf_queries_run_from_foreign_cwd(sf_small, tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_PACKAGE_PARENT!r})
        from etl_ai_assistent_spark.registry import queries
        from etl_ai_assistent_spark.session import get_spark

        spark = get_spark("foreign-cwd", driver_memory="2g")
        try:
            for name in {ARROW_UDF_QUERIES!r}:
                print(name, len(queries()[name](spark, {sf_small!r}).collect()))
        finally:
            spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    ran = dict(line.split() for line in out.stdout.splitlines() if line.strip())
    assert set(ran) == set(ARROW_UDF_QUERIES), out.stdout
    assert all(int(n) > 0 for n in ran.values()), ran
