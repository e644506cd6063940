"""The driver JVM's compile policy (``session.get_spark``).

``get_spark`` starts the JVM with ``session.JIT_POLICY`` in front of
``SPARK_GRAFT_DRIVER_JAVA_OPTS``, so flags from the env var come later
and win."""

from __future__ import annotations

import os
import shutil
import subprocess

from scrapetition_spark.session import JIT_POLICY, driver_java_options


def _java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _last_value(args: list[str], name: str) -> str:
    """The value of the last ``-XX:<name>=`` among ``args``."""
    return [a.split("=", 1)[1] for a in args if a.startswith(f"-XX:{name}=")][-1]


def test_env_flags_follow_the_policy():
    assert driver_java_options(None).split() == list(JIT_POLICY)
    assert driver_java_options("").split() == list(JIT_POLICY)
    env = "-Xms2g -XX:Tier4InvocationThreshold=5000"
    opts = driver_java_options(env).split()
    assert opts[: len(JIT_POLICY)] == list(JIT_POLICY)
    assert opts[len(JIT_POLICY):] == env.split()
    assert _last_value(opts, "Tier4InvocationThreshold") == "5000"


def test_jvm_takes_the_last_repeated_flag():
    """What lets an env flag override the policy: HotSpot keeps the
    last value of a flag given twice."""
    out = subprocess.run(
        [_java(), *driver_java_options("-XX:Tier4InvocationThreshold=5000").split(),
         "-XX:+PrintFlagsFinal", "-version"],
        capture_output=True, text=True, check=True,
    ).stdout
    flags = {ln.split()[1]: ln.split()[3] for ln in out.splitlines()
             if ln.strip().startswith("intx Tier4")}
    assert flags["Tier4InvocationThreshold"] == "5000"
    assert flags["Tier4BackEdgeThreshold"] == _last_value(
        list(JIT_POLICY), "Tier4BackEdgeThreshold")


def test_live_driver_jvm_runs_the_policy(spark):
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    for flag in JIT_POLICY:
        assert flag in args
    diag = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    for flag in JIT_POLICY:
        name = flag[len("-XX:"):].split("=")[0]
        assert diag.getVMOption(name).getValue() == _last_value(args, name)
