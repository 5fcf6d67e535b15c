import os
import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession

# The sandbox disk throttles to single-digit MB/s sustained writes
# (measured 3.7 MB/s via a 100MB fsync'd write while e2e tests crawled
# at ~10× their normal wall-time).  Every test table (snapshot commits
# are fsync'd) and Spark's shuffle/scratch space goes to tmpfs instead —
# the suite's working set is MBs against a 126 GB /dev/shm.
if os.path.isdir("/dev/shm"):
    _shm = "/dev/shm/sosse-tests"
    os.makedirs(_shm, exist_ok=True)
    os.environ["TMPDIR"] = _shm
    tempfile.tempdir = None  # re-resolve gettempdir() from the new TMPDIR


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("sosse-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        # the suite shares ONE JVM across ~315 tests; ContextCleaner only
        # reclaims unreferenced cache/localCheckpoint/shuffle blocks when
        # a JVM GC runs, and with a big mostly-idle heap that can be
        # never — force a periodic GC so blocks actually free (the
        # default 30min exceeded the suite length and the session died
        # of accumulated blocks at ~250 tests; 1min still showed py4j
        # flakes near the 300-test mark at 8g, hence 30s + 12g)
        .config("spark.cleaner.periodicGC.interval", "30s")
        # AQE OFF for the suite: on this host AQE's per-stage
        # materialization multiplies fixed job latency ~5× (measured
        # 2307ms vs 445ms for an identical tiny shuffle job), and the
        # suite is thousands of tiny jobs.  AQE remains the documented
        # production setting (skew joins at cluster scale — bench.py and
        # jobs/ keep it on); no test asserts AQE-shaped plans
        # (test_plans disables it locally where plan text matters).
        .config("spark.sql.adaptive.enabled", "false")
        # plan-DESCRIPTION strings (SQL listener events, AQE plan
        # updates) are generated eagerly per query execution even with
        # the UI off; on the deep iterative crawl plans generateTreeString
        # burned 300+ CPU-seconds per e2e test (measured via jstack —
        # the driver thread sat in TreeNode.generateTreeString).  The
        # truncation only affects debug strings, never semantics.
        .config("spark.sql.maxPlanStringLength", "4096")
        # a steady-state crawl round needs ~200 distinct generated
        # classes; the default codegen cache (100 entries, static
        # setting) evicts them every round and janino recompiles ~185
        # byte-identical classes per round
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.local.dir", tempfile.gettempdir())
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="sosse_spark_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
