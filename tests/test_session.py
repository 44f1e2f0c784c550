"""``get_session``'s pinned defaults, checked on a stub builder (no JVM)
and, for the JVM launch options, on the live test session."""

from types import SimpleNamespace

import pytest

from meta_frame_spark import session
from meta_frame_spark.session import (
    ICU_CASE_MAPPINGS, LOCAL_JIT_OPTIONS, LOCAL_JVM_OPTIONS, get_session,
)

JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
EXTRA_OPTIONS = "spark.driver.extraJavaOptions"


class _BuilderStub:
    """The slice of ``SparkSession.builder`` ``get_session`` touches: it
    records the builder conf and the session conf set afterwards, on a
    driver JVM whose default locale language is ``lang``."""

    def __init__(self, lang="en"):
        self.conf = {}
        self.session_conf = {}
        locale = SimpleNamespace(getLanguage=lambda: lang)
        self.session = SimpleNamespace(
            conf=SimpleNamespace(set=self.session_conf.__setitem__),
            sparkContext=SimpleNamespace(_jvm=SimpleNamespace(java=SimpleNamespace(
                util=SimpleNamespace(Locale=SimpleNamespace(getDefault=lambda: locale))
            ))),
        )

    def appName(self, name):
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.session


@pytest.fixture
def builder(monkeypatch):
    # the JVM reads these at launch too: a collector in them is a caller's
    for v in ("JDK_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS"):
        monkeypatch.delenv(v, raising=False)

    def install(lang="en"):
        stub = _BuilderStub(lang)
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=stub))
        return stub

    return install


@pytest.mark.parametrize("master,sized", [
    ("local", True),
    ("local[4]", True),
    ("local[*]", True),
    ("local[2, 3]", True),
    ("local[*,2]", True),
    # the driver of local-cluster runs no tasks: its executors do
    ("local-cluster[2,1,1024]", False),
])
def test_driver_heap_sized_only_on_a_single_jvm_master(builder, master, sized):
    stub = builder()
    get_session(master=master)
    assert ("spark.driver.memory" in stub.conf) == sized
    assert stub.conf.get(JAVA_OPTIONS) == (LOCAL_JVM_OPTIONS if sized else None)


@pytest.mark.parametrize("master", [
    "local-cluster[2,1,1024]", "spark://host:7077", "yarn", None,
])
def test_cluster_jvms_keep_their_own_defaults(builder, monkeypatch, master):
    # master=None: spark-submit's master, when SPARK_GRAFT_LOCAL=0
    monkeypatch.setenv("SPARK_GRAFT_LOCAL", "0")
    stub = builder()
    get_session(master=master)
    assert JAVA_OPTIONS not in stub.conf
    assert "spark.driver.memory" not in stub.conf


@pytest.mark.parametrize("env", ["JDK_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS", None])
def test_a_callers_collector_keeps_the_thresholds(builder, monkeypatch, env):
    """``java -XX:+UseParallelGC -XX:+UseG1GC`` refuses to start
    ("Multiple garbage collectors selected"), so a collector the caller
    selects drops ours and keeps the JIT options."""
    stub = builder()
    if env is None:
        get_session(master="local[2]", extra_conf={EXTRA_OPTIONS: "-Dfoo=1 -XX:+UseG1GC"})
    else:
        monkeypatch.setenv(env, "-Xss4m -XX:+UseSerialGC")
        get_session(master="local[2]")
    assert stub.conf[JAVA_OPTIONS] == LOCAL_JIT_OPTIONS


def test_only_a_selected_collector_drops_ours(builder):
    """A disabled collector or another ``Use*`` flag selects none."""
    stub = builder()
    get_session(master="local[2]", extra_conf={
        EXTRA_OPTIONS: "-XX:-UseG1GC -XX:+UseGCOverheadLimit -XX:+UseStringDeduplication"
    })
    assert stub.conf[JAVA_OPTIONS] == LOCAL_JVM_OPTIONS


def test_extra_conf_java_options_win_or_compose(builder):
    stub = builder()
    get_session(master="local[2]", extra_conf={JAVA_OPTIONS: "-Xss4m"})
    assert stub.conf[JAVA_OPTIONS] == "-Xss4m"
    stub = builder()
    get_session(master="local[2]", extra_conf={EXTRA_OPTIONS: "-Dfoo=1"})
    # Spark appends the extra options to the default ones at launch
    assert stub.conf[JAVA_OPTIONS] == LOCAL_JVM_OPTIONS
    assert stub.conf[EXTRA_OPTIONS] == "-Dfoo=1"


def test_local_jvm_runs_two_compiler_threads(spark):
    """The launch policy reaches the JVM at launch, through the builder
    conf: two compiler threads, the raised tier-4 thresholds and the
    throughput collector."""
    jvm = spark.sparkContext._jvm
    management = jvm.java.lang.management.ManagementFactory
    bean = management.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("CICompilerCount").getValue() == "2"
    assert bean.getVMOption("Tier4InvocationThreshold").getValue() == "20000"
    collectors = {gc.getName() for gc in management.getGarbageCollectorMXBeans()}
    assert collectors == {"PS Scavenge", "PS MarkSweep"}


@pytest.mark.parametrize("lang,value", [
    ("en", "false"),
    # dotted/dotless I: the JVM's String case mapping differs from ICU root
    ("tr", None),
    ("az", None),
    ("lt", None),
])
def test_icu_case_mappings_off_unless_the_locale_guard_fires(builder, lang, value):
    stub = builder(lang)
    get_session(master="local[2]")
    # None: left at Spark's default, true
    assert stub.session_conf.get(ICU_CASE_MAPPINGS) == value


def test_extra_conf_icu_case_mappings_wins(builder):
    stub = builder("en")
    get_session(master="local[2]", extra_conf={ICU_CASE_MAPPINGS: "true"})
    assert stub.conf[ICU_CASE_MAPPINGS] == "true"
    assert ICU_CASE_MAPPINGS not in stub.session_conf
