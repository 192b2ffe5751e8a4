"""Pins for the r13 session tuning (driver heap per task slot, daemon
preload) — the two session-level knobs changes 12-13 introduced.

These tests pin the PURE logic (no Spark session): the heap derivation's
floor/cap/override contract and the daemon module's import safety. The
one exception, the get_spark session guard, needs a running session. The
live-session behavior (workers actually forked from the preloaded daemon)
is exercised end to end by every Arrow-kernel test in the suite once a
get_spark session is in play, and was verified against the full oracle
sweep at the introducing commit.
"""

import importlib
import os
from unittest import mock

from kadiyadb_spark.session import _default_driver_mem


def _with_cpus(val):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if val is not None:
        env["SPARK_GRAFT_CPUS"] = val
    return mock.patch.dict(os.environ, env, clear=True)


def test_driver_mem_floor_holds_at_small_core_counts():
    # 8 cores -> the old 16g default, NOT 8g: small hosts are unchanged.
    with _with_cpus("8"):
        assert _default_driver_mem() == "16g"


def test_driver_mem_scales_with_cores_up_to_ram_cap():
    # Fixed sysconf values (ADVICE r13: recomputing ram_gb with the
    # implementation's own expression made this tautological): 256 GB RAM
    # -> cap 64g does not bind at 32 cores -> 32g; 64 GB RAM -> cap 16g
    # binds -> 16g (the floor and cap meet).
    page, phys_256g = 4096, (256 << 30) // 4096
    with _with_cpus("32"), mock.patch.object(
        os, "sysconf", side_effect=lambda name: {"SC_PAGE_SIZE": page,
                                                 "SC_PHYS_PAGES": phys_256g}[name]
    ):
        assert _default_driver_mem() == "32g"
    phys_64g = (64 << 30) // 4096
    with _with_cpus("32"), mock.patch.object(
        os, "sysconf", side_effect=lambda name: {"SC_PAGE_SIZE": page,
                                                 "SC_PHYS_PAGES": phys_64g}[name]
    ):
        assert _default_driver_mem() == "16g"


def test_driver_mem_garbage_cpus_falls_back_to_host_cores():
    with _with_cpus("not-a-number"):
        val = _default_driver_mem()
    assert val.endswith("g") and int(val.rstrip("g")) >= 16


def test_pydaemon_importable_and_wraps_stock_manager():
    # The daemon module must import cleanly (a failure here would take down
    # EVERY Python worker) and re-export pyspark.daemon.manager unchanged.
    mod = importlib.import_module("kdb_pydaemon")
    from pyspark.daemon import manager as stock_manager

    assert mod.manager is stock_manager


def test_pydaemon_is_top_level_module():
    # ADVICE r13: `python -m kadiyadb_spark.pydaemon` executed the package
    # __init__ (which hard-imports pandas & co.), so any optional-import
    # failure became daemon-fatal for EVERY worker. The configured module
    # must live at the repo root, outside any package.
    mod = importlib.import_module("kdb_pydaemon")
    assert "." not in mod.__name__
    assert not hasattr(mod, "__path__")  # a module, not a package


def test_pydaemon_preload_survives_missing_optional_package():
    # Simulate an environment without pandas: re-executing the module body
    # must not raise (imports are opportunistic by design).
    import kdb_pydaemon as pd_mod

    real_import = importlib.import_module

    def flaky(name, *a, **kw):
        if name in ("pandas", "pyarrow", "pyarrow.compute"):
            raise ImportError(name)
        return real_import(name, *a, **kw)

    with mock.patch.object(importlib, "import_module", side_effect=flaky):
        importlib.reload(pd_mod)
    importlib.reload(pd_mod)  # restore a fully-loaded module for siblings
    assert pd_mod.manager is not None


def test_session_guard_sees_a_session_started_on_another_thread(spark):
    """get_spark only edits PYTHONPATH when it launches the JVM. Its guard
    must see a session another thread started: getActiveSession() is
    thread-local and reads None on a thread that never set one."""
    import threading

    from kadiyadb_spark.session import _session_running

    seen = {}
    t = threading.Thread(target=lambda: seen.update(running=_session_running()))
    t.start()
    t.join()
    assert seen == {"running": True}
