"""Session conf discipline: ``session.scoped_confs`` is the one way engine
code changes a conf on the caller's session, and it puts back exactly what
it found. ``session.memo`` is the one per-session / per-DataFrame cache."""

from __future__ import annotations

import ast
import gc
import os
import pathlib
import re
import subprocess
import sys
import textwrap
import threading
import time
import weakref
from concurrent.futures import ThreadPoolExecutor

import pytest

from lagom_kinesis_spark.catalog import load
from lagom_kinesis_spark.functions.helpers import fan_out
from lagom_kinesis_spark.session import RUNTIME_CONFS, memo, scoped_confs, tune
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


def test_no_id_keys_or_module_caches():
    """Engine caches go through session.memo or a fingerprint-keyed
    lru_cache: no ``id()`` key, and no module-level ``*_CACHE`` dict."""
    pkg = ROOT / "lagom_kinesis_spark"
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        tree = ast.parse(p.read_text())
        rel = p.relative_to(pkg)
        offenders += [
            f"{rel}:{n.lineno} id()"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "id"
        ]
        for stmt in tree.body:
            targets = (
                stmt.targets if isinstance(stmt, ast.Assign)
                else [stmt.target] if isinstance(stmt, ast.AnnAssign)
                else []
            )
            offenders += [
                f"{rel}:{stmt.lineno} {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
            ]
    assert offenders == [], f"use session.memo instead: {offenders}"


class _Owner:
    """A weak-referenceable memo owner, like a session or a DataFrame."""


def test_memo_entries_die_with_their_owner():
    owner = _Owner()
    value = memo(owner, "k", _Owner)
    assert memo(owner, "k", lambda: pytest.fail("rebuilt")) is value
    owner_ref, value_ref = weakref.ref(owner), weakref.ref(value)
    del owner, value
    gc.collect()
    assert owner_ref() is None
    assert value_ref() is None


def test_memo_concurrent_callers_share_one_value():
    owner, start = _Owner(), threading.Barrier(8)

    def build():
        time.sleep(0.05)  # a slow build: every caller misses first
        return object()

    def call(_):
        start.wait(timeout=30)
        return memo(owner, "k", build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(call, range(8), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert all(v is got[0] for v in got)
    assert memo(owner, "k", build) is got[0]


class _FlakyConf:
    """conf.set raises a transient (non-static) error once for one key."""

    def __init__(self, flaky_key):
        self.values, self.gets, self.flaky = {}, 0, {flaky_key}

    def get(self, key, default=None):
        self.gets += 1
        return self.values.get(key, default)

    def set(self, key, value):
        if key in self.flaky:
            self.flaky.discard(key)
            raise RuntimeError("py4j: Answer from Java side is empty")
        self.values[key] = value


def test_tune_retries_after_a_transient_conf_error():
    key = "spark.sql.session.timeZone"
    session = _Owner()
    session.conf = _FlakyConf(key)
    tune(session)
    assert key not in session.conf.values
    assert len(session.conf.values) == len(RUNTIME_CONFS) - 1
    tune(session)  # not memoized: the next call retries and sets it
    assert session.conf.values == RUNTIME_CONFS
    gets = session.conf.gets
    tune(session)  # tuned now: memoized, no conf roundtrip
    assert session.conf.gets == gets


def test_load_and_fan_out_hit_their_memo(spark):
    docs = load(spark, SF_DIR, "documents")
    assert load(spark, SF_DIR, "documents") is docs
    assert fan_out(docs) is fan_out(docs)
    assert load(spark.newSession(), SF_DIR, "documents") is not docs
