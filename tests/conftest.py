import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from filterz_spark.hashing import splitmix64_array

# The fixed 42-hash regression vector copied verbatim from the reference
# (/root/reference/src/tests.zig:14) — once broke construction; every filter
# config must build it and probe all-true.
REGRESSION_HASHES = np.array([
    72644917353746632, 642569258191439722, 880063444564840048,
    936038340777039120, 1463140050281691778, 2534303452491416525,
    2932506756478463233, 3162550684756043368, 3222824559290762320,
    3304852325422999252, 3340896780712084771, 3576804163975317586,
    5194252426355675670, 5285340030140706004, 6038449579595759498,
    6129652247619811565, 7505361257740328928, 7624146440976401075,
    8000835406817860068, 8865134243681972832, 8947054143473076092,
    9184170327892905410, 9247810627123549518, 9428353589346381175,
    9439589025481519798, 9726887461280574282, 10228453195936255633,
    10409275278410212535, 10970487830014977086, 11056890753627467201,
    11173871646086530417, 11200808152604239572, 11662532023175458543,
    12578389580290726414, 13694005592234131760, 14036019601299503951,
    14371822432590631259, 14751664096118349536, 15331668869258475036,
    16078852908519881396, 16259148258571684489, 18009237999125136770,
], dtype=np.uint64)


@pytest.fixture(scope="session")
def smoke_hashes():
    """10k seeded distinct u64 hashes (mirrors ref smoke_test, src/tests.zig:23-40)."""
    return np.unique(splitmix64_array(123, 10_000))


@pytest.fixture(scope="session")
def absent_hashes(smoke_hashes):
    """>=204,800 hashes disjoint from smoke_hashes, for FPR measurement at the
    reference workload's resolution (bench_result_low_hit.txt)."""
    a = np.unique(splitmix64_array(987654321, 250_000))
    return np.setdiff1d(a, smoke_hashes)[:204_800]


@pytest.fixture(scope="session")
def spark():
    """local[32] session shared across Spark tests (SURVEY.md §7)."""
    from filterz_spark.spark.session import get_session

    s = get_session(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    yield s


@pytest.fixture
def no_checkpoint_dir(spark):
    """Run one test with the session's checkpoint dir unset, restoring it
    afterwards: SparkContext has no public unset, and curate_training_set
    picks its barrier from whether the dir is set."""
    sc = spark.sparkContext._jsc.sc()
    saved = sc.getCheckpointDir()
    set_dir = getattr(sc, "checkpointDir_$eq")
    set_dir(spark._jvm.scala.Option.apply(None))
    yield
    set_dir(saved)
