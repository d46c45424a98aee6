"""Session conf discipline: ``session.scoped_confs`` is the one way engine
code changes a conf on the caller's session, and it puts back exactly what
it found."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys
import textwrap

import pytest

from lagom_kinesis_spark.session import scoped_confs
from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parent.parent

SET_KEY = "spark.sql.autoBroadcastJoinThreshold"  # set by get_spark
UNSET_KEY = "spark.sql.streaming.minBatchesToRetain"  # set by nothing


def test_scoped_confs_restores_set_and_unsets_unset(spark):
    before = spark.conf.get(SET_KEY)
    assert before is not None
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_confs(spark, {SET_KEY: "-1", UNSET_KEY: "7"}):
        assert spark.conf.get(SET_KEY) == "-1"
        assert spark.conf.get(UNSET_KEY) == "7"
    assert spark.conf.get(SET_KEY) == before
    # re-unset, not pinned to the default that conf.get(k) would report
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scoped_confs_restores_when_body_raises(spark):
    before = spark.conf.get(SET_KEY)
    with pytest.raises(RuntimeError, match="body"):
        with scoped_confs(spark, {SET_KEY: "-1", UNSET_KEY: "7"}):
            raise RuntimeError("body")
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


def test_get_spark_disables_console_progress(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"


def test_workers_import_the_package_from_outside_the_checkout(tmp_path):
    """get_spark gives the Python workers the package: from a cwd outside
    the checkout, with the checkout on neither PYTHONPATH nor the cwd and
    only in the driver's sys.path, a query whose DataSource lives in the
    package runs (the workers must unpickle kinesis_sim)."""
    script = tmp_path / "outside.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from lagom_kinesis_spark.queries.streaming_ops import kinesis_sim_roundtrip
        from lagom_kinesis_spark.session import get_spark
        spark = get_spark("outside-checkout")
        print("ROWS", kinesis_sim_roundtrip(spark, {SF_DIR!r}).count())
    """))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != str(ROOT)
    )
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert re.search(r"^ROWS [1-9]", out.stdout, re.M), out.stdout


#: Where a raw conf write is allowed: the tuner and the scoped helper, and
#: the connected-components loop session (a private clone, never the
#: caller's session).
CONF_WRITERS = {"session.py", "operators/components.py"}


def test_no_conf_writes_outside_scoped_confs():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "lagom_kinesis_spark"
    pat = re.compile(r"\.conf\.(set|unset)\(")
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p.relative_to(pkg).as_posix() not in CONF_WRITERS
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert offenders == [], f"use session.scoped_confs instead: {offenders}"
