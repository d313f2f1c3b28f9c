"""The measuring path: scripts/measure.py times one query through the
perfbench tracer and reads its Spark jobs back from the status store."""

from __future__ import annotations

from etl_housing_spark.plans import all_queries

from .conftest import SF_SMOKE


def _jobs(spark) -> dict[int, tuple[str | None, str | None]]:
    """job id -> (job group, description) of every retained job."""
    jl = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(jl.size()):
        job = jl.apply(i)
        grp, desc = job.jobGroup(), job.description()
        out[int(job.jobId())] = (
            str(grp.get()) if grp.isDefined() else None,
            str(desc.get()) if desc.isDefined() else None,
        )
    return out


def test_measure_records_stages_and_names_every_job(spark):
    from bench import STAGE_FIELDS
    from perfbench.spans import Tracer
    from scripts.measure import measure

    qid = "q_filter_eq"
    tracer = Tracer(spark, True)
    before = set(_jobs(spark))
    rec = measure(spark, tracer, all_queries()[qid], SF_SMOKE)
    after = _jobs(spark)

    assert set(rec) == {"mk_s", "cold_s", *STAGE_FIELDS}
    assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1
    assert rec["mk_s"] >= 0 and rec["cold_s"] > 0

    span_name = {f"perfbench-{s['id']}": s["name"] for s in tracer.spans}
    new = {j: v for j, v in after.items() if j not in before}
    assert len(new) == rec["jobs"]
    for job, (group, desc) in new.items():
        assert group in span_name and span_name[group].startswith(qid), (job, group)
        assert desc is not None and desc.startswith(qid), (job, desc)
