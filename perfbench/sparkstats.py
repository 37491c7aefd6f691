"""Per-stage and per-operator metrics of one Spark job group, read from
the driver's status stores (the data behind the Spark UI, which stays
populated with the UI off).

Stage roles of the extraction job. Spark fuses several pipeline steps
into one stage, so a role names the stage, not one operator:

    scan_exchange  Parquet scan + doc_id repartition write (every
                   non-Python stage that scans a table)
    route          mega-doc route UDF + bucket-exchange write
    extract_sub    per-bucket extraction UDF + regroup-exchange write
    result         extract-small UDF + reassemble + union + sink
    other          everything else (joins, commits, read-backs)

The Python time of each UDF inside a fused stage comes from the SQL
operator metric "time to run Python workers".
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

ROLES = ("scan_exchange", "route", "extract_sub", "result", "other")
# UDF name in the operator description -> pipeline step
UDFS = {"route": "route", "_extract_small": "extract_small",
        "_extract_sub": "extract_sub", "_reassemble": "reassemble"}
_UDF_ROLE = {"route": "route", "extract_small": "result",
             "extract_sub": "extract_sub", "reassemble": "result"}
_UDF_RE = re.compile(r"\b(" + "|".join(UDFS) + r")\(")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_total(text: str) -> float:
    """Total of one SQL metric as Spark formats it: "1,444",
    "16.6 MiB", or "total (min, med, max ...)\\n5.0 s (...)".
    Sizes come back in bytes, durations in seconds."""
    head = text.rsplit("\n", 1)[-1].split(" (", 1)[0].strip()
    num, _, unit = head.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


@dataclass
class SqlNode:
    name: str
    desc: str
    metrics: dict[str, str]
    stages: set[int] = field(default_factory=set)

    def total(self, metric: str) -> float:
        text = self.metrics.get(metric)
        return metric_total(text) if text else 0.0

    @property
    def udf(self) -> str | None:
        m = _UDF_RE.search(self.desc)
        return UDFS[m.group(1)] if m else None


_WRITE_RE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)")


@dataclass
class SqlExecution:
    plan: str
    duration_s: float
    nodes: list[SqlNode]

    @property
    def write_path(self) -> str | None:
        """Output path, when the execution writes files."""
        m = _WRITE_RE.search(self.plan)
        return m.group(1) if m else None


@dataclass
class StageStat:
    stage_id: int
    operators: list[str]
    run_s: float
    cpu_s: float
    gc_s: float
    tasks: int
    task_skew: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int


class StatusReader:
    """Reads what the status stores hold about stages of one job group
    and about SQL executions."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._cc = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _list(self, seq) -> list:
        return list(self._cc.asJava(seq))

    def execution_count(self) -> int:
        """SQL execution ids run from 0; ids from this count on are new."""
        return self._sql.executionsCount()

    def stages(self, group: str) -> list[StageStat]:
        out = []
        ids = sorted({sid for j in self._list(self._store.jobsList(None))
                      if j.jobGroup().isDefined() and j.jobGroup().get() == group
                      for sid in self._list(j.stageIds())})
        quantiles = self._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sid in ids:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            ops = []

            def walk(cluster):
                ops.append(cluster.name())
                for child in self._list(cluster.childClusters()):
                    walk(child)

            walk(self._store.operationGraphForStage(sid).rootCluster())
            summary = self._store.taskSummary(sid, sd.attemptId(), quantiles)
            med, top = (self._list(summary.get().executorRunTime())
                        if summary.isDefined() else (0, 0))
            out.append(StageStat(
                stage_id=sid, operators=ops,
                run_s=(sd.completionTime().get().getTime()
                       - sd.submissionTime().get().getTime()) / 1e3,
                cpu_s=sd.executorCpuTime() / 1e9,
                gc_s=sd.jvmGcTime() / 1e3,
                tasks=sd.numCompleteTasks(),
                task_skew=top / med if med else 1.0,
                shuffle_write_b=sd.shuffleWriteBytes(),
                shuffle_read_b=sd.shuffleReadBytes(),
                spill_b=sd.diskBytesSpilled(),
            ))
        return out

    def executions(self, first_id: int) -> list[SqlExecution]:
        """SQL executions with ids from ``first_id`` on."""
        out = []
        for eid in range(first_id, self.execution_count()):
            found = self._sql.execution(eid)
            if not found.isDefined():
                continue
            e = found.get()
            values = self._cc.asJava(self._sql.executionMetrics(eid))
            nodes = []
            for n in self._list(self._sql.planGraph(eid).allNodes()):
                metrics = {m.name(): values.get(m.accumulatorId())
                           for m in self._list(n.metrics())}
                metrics = {k: v for k, v in metrics.items() if v is not None}
                stages = {int(s) for v in metrics.values()
                          for s in _STAGE_RE.findall(v)}
                nodes.append(SqlNode(n.name(), n.desc(), metrics, stages))
            done = e.completionTime()
            end = done.get().getTime() if done.isDefined() else e.submissionTime()
            out.append(SqlExecution(e.physicalPlanDescription(),
                                    (end - e.submissionTime()) / 1e3, nodes))
        return out


def stage_roles(stages: list[StageStat],
                executions: list[SqlExecution]) -> dict[int, str]:
    """stage id -> role (see module docstring)."""
    by_udf: dict[int, str] = {}
    for e in executions:
        for n in e.nodes:
            if n.udf:
                for sid in n.stages:
                    by_udf[sid] = _UDF_ROLE[n.udf]
    roles = {}
    for s in stages:
        if s.stage_id in by_udf:
            roles[s.stage_id] = by_udf[s.stage_id]
        elif any(op.startswith("Scan ") for op in s.operators) and \
                s.shuffle_write_b > 0:
            roles[s.stage_id] = "scan_exchange"
        else:
            roles[s.stage_id] = "other"
    return roles


def layer_metrics(stages: list[StageStat], executions: list[SqlExecution],
                  corpus_dir: str) -> dict[str, float]:
    """The ``spark.*``, ``sources.*`` and Spark-side ``extract_pipeline.*``
    per-layer metrics of one job group."""
    roles = stage_roles(stages, executions)
    out: dict[str, float] = {}
    for role in ROLES:
        mine = [s for s in stages if roles[s.stage_id] == role]
        out[f"spark.{role}.run_s"] = sum(s.run_s for s in mine)
        out[f"spark.{role}.cpu_s"] = sum(s.cpu_s for s in mine)
        out[f"spark.{role}.gc_s"] = sum(s.gc_s for s in mine)
        out[f"spark.{role}.tasks"] = sum(s.tasks for s in mine)
        out[f"spark.{role}.task_skew"] = max((s.task_skew for s in mine),
                                             default=0.0)
    out["spark.shuffle_write_mb"] = sum(s.shuffle_write_b for s in stages) / 2**20
    out["spark.shuffle_read_mb"] = sum(s.shuffle_read_b for s in stages) / 2**20
    out["spark.spill_mb"] = sum(s.spill_b for s in stages) / 2**20

    nodes = [n for e in executions for n in e.nodes]
    scans = [n for n in nodes if n.name.startswith("Scan ")
             and corpus_dir in n.desc and n.total("number of files read") > 0]
    out["sources.scan_s"] = sum(n.total("scan time") for n in scans)
    out["sources.input_mb"] = sum(n.total("size of files read") for n in scans) / 2**20
    # how often the job read the corpus (the plain-scan extraction reads
    # it once per branch; the checkpoint run re-reads it per anti-join)
    out["checkpoint.scan_passes"] = float(len(scans))
    udf_nodes = [n for n in nodes if n.udf]
    out["extract_pipeline.arrow_to_py_mb"] = sum(
        n.total("data sent to Python workers") for n in udf_nodes) / 2**20
    out["extract_pipeline.py_to_arrow_mb"] = sum(
        n.total("data returned from Python workers") for n in udf_nodes) / 2**20
    for udf in UDFS.values():
        out[f"extract_pipeline.{udf}_s"] = sum(
            n.total("time to run Python workers")
            for n in udf_nodes if n.udf == udf)
    out["extract_pipeline.docs_salted"] = sum(
        n.total("number of output rows") for n in udf_nodes
        if n.udf == "reassemble")
    out["extract_pipeline.buckets"] = sum(
        n.total("number of output rows") for n in udf_nodes
        if n.udf == "extract_sub")
    return out
