import os
import re
import sys
import uuid

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens")

FIXTURES = ["例文_1", "例文_2", "例文_3"]

# the reference JS checkout that tools/js_oracle.mjs executes (its REF)
with open(os.path.join(REPO_DIR, "tools", "js_oracle.mjs")) as _f:
    JS_REFERENCE_DIR = re.search(r'const REF = "([^"]+)"', _f.read()).group(1)


def read_fixture(name: str) -> str:
    # newline='' : preserve the file's raw \r\n (JS readFileSync semantics)
    with open(os.path.join(FIXTURE_DIR, f"{name}.txt"), newline="", encoding="utf-8") as f:
        return f.read()


def read_golden(name: str) -> str:
    with open(os.path.join(GOLDEN_DIR, f"{name}.txt"), newline="", encoding="utf-8") as f:
        return f.read()


def spark_jobs_during(spark, build) -> list[int]:
    """Ids of the Spark jobs submitted while ``build()`` runs."""
    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs submitted while building a plan")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))
