import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from clickhouse_clickhouse_spark.session import get_spark

    # local[8]: tiny-fixture stages pay ~20% wall in per-task scheduling
    # at local[32] (measured r9: test_property 119->95 s, fuzz 131->103 s).
    # AQE off by default for TESTS only (r11): on sub-MB fixtures every
    # query pays AQE's per-stage re-optimization rounds but can never
    # benefit — measured -12% suite wall; production sessions
    # (session.get_spark default) keep AQE on.
    extra = {}
    if os.environ.get("SPARK_GRAFT_TEST_AQE", "off") == "off":
        extra["spark.sql.adaptive.enabled"] = "false"
    if os.environ.get("SPARK_GRAFT_TEST_CODEGEN", "off") == "off":
        # Janino compilation dominates per-action wall on KB fixtures
        # (every distinct query compiles fresh codegen classes);
        # interpreted mode is faster below ~100k rows. Production
        # sessions keep whole-stage codegen on.
        # NO_CODEGEN factoryMode breaks catalog bean decoding
        # (EXPRESSION_DECODING_FAILED on catalog.listTables) — only the
        # whole-stage fusion is disabled
        extra["spark.sql.codegen.wholeStage"] = "false"
    # shuffle=4 (r11): tiny fixtures never fill 8 post-shuffle tasks,
    # and streaming state ops pay one state-store instance PER shuffle
    # partition per operator — halving partitions measured -11% on the
    # streaming+pipeline subset (160->143 s) and -20% on fuzz+property
    # (122->98 s); shuffle=2 was no better (145 s). Production default
    # (session.get_spark) stays cores-matched.
    s = get_spark("tests",
                  shuffle_partitions=int(
                      os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "4")),
                  cores=int(os.environ.get("SPARK_GRAFT_TEST_CORES", "8")),
                  extra_conf=extra)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def data_dir(spark, tmp_path):
    """MergeTree-family tables created through ``ch_statement`` while
    this fixture is active are file-backed, under ``tmp_path``."""
    conf = "spark.clickhouse_clickhouse_spark.dataDir"
    spark.conf.set(conf, str(tmp_path))
    try:
        yield tmp_path
    finally:
        spark.conf.set(conf, "")


def run_parallel(cases, fn, workers=16):
    """Run one check per case on a thread pool — Spark actions are
    thread-safe and overlap in local mode, so N tiny differential
    queries take ~N/workers wall instead of N (the fuzz suites were
    ~60% of suite wall time executing serially). Deterministic: the
    case list is pre-generated (seeded), only EXECUTION is concurrent.
    Raises the first failure with its case attached."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(workers) as ex:
        futs = [(c, ex.submit(fn, c)) for c in cases]
        errors, hard = [], None
        for c, f in futs:
            try:
                f.result()
            except AssertionError as e:
                errors.append((c, e))
            except Exception as e:           # noqa: BLE001 — keep the
                if hard is None:             # triggering case attached
                    hard = (c, e)
    if hard is not None:
        raise RuntimeError(f"case {hard[0]!r} raised") from hard[1]
    assert not errors, f"{len(errors)} case(s) failed; first 3: " \
                       f"{errors[:3]}"
