package perfbench

/** Per-layer metrics of a traced run, derived from the spans and the
  * job census. Every workload prints the full list; a layer the
  * workload does not call reads 0. */
object Layers {
  /** Operation types across all workloads, for the spark.<op>.* census. */
  val Ops: Seq[String] = Seq("list", "head", "allowed_files", "range_get",
    "scan", "metrics_minute", "append", "delete", "update", "merge", "fresh_read", "pass")

  /** Layers with a self-time figure; `op` is benchmark code between
    * layer calls, reported as `client.self_ms`. */
  val SelfLayers: Seq[String] = Seq("catalog", "acl", "listing", "io.log",
    "io.raw", "plans", "io.scan", "io.commit", "metrics", "llm", "spark", "op")

  def metrics(w: Workload, rec: Recorder, tracer: Tracer, census: JobCensus,
              wall: Double, plainOpsPerS: Double, gcPerS: Double,
              finished: Metrics): Metrics = {
    val spans = tracer.spans
    val jobs = census.all.filter(_.op != 0L)
    val byName = spans.groupBy(_.name)
    def med(name: String): Double =
      byName.get(name).fold(0.0)(s => Stats.median(s.map(_.ms)))
    val m = new Metrics
    m.put("catalog.resolve_us", med("catalog.resolve") * 1000, "us")
    m.put("acl.allowed_files_ms", med("acl.allowed_files"), "ms")
    m.put("acl.filelist_hit_ratio", 0, "ratio")
    m.put("listing.list_ms", med("listing.list"), "ms")
    m.put("listing.head_ms", med("listing.head"), "ms")
    m.put("listing.rows_read_per_key", 0, "ratio")
    m.put("io.log.snapshot_ms", med("io.log.snapshot"), "ms")
    m.put("io.log.files_kept_ratio", 0, "ratio")
    m.put("io.log.current_version_ms", med("io.log.current_version"), "ms")
    m.put("io.raw.range_get_ms", med("io.raw.range_get"), "ms")
    m.put("plans.sql_analysis_ms", med("plans.sql_analysis"), "ms")
    m.put("io.scan.read_ms", med("io.scan.read"), "ms")
    Seq("append", "delete", "update", "merge").foreach(k =>
      m.put(s"io.commit.${k}_ms", med(s"io.commit.$k"), "ms"))
    m.put("io.commit.checkpoint_commit_ms", 0, "ms")
    m.put("io.commit.files_added_per_commit", 0, "count")
    m.put("io.commit.bytes_per_commit", 0, "bytes")
    m.put("io.commit.log_bytes", 0, "bytes")
    m.put("metrics.per_minute_ms", med("metrics.per_minute"), "ms")
    val spanName = spans.map(s => s.id -> s.name).toMap
    LlmBatch.Gates.foreach { g =>
      val runs = rec.count(g)
      val gj = jobs.filter(j => spanName.get(j.parent).contains(s"llm.$g"))
      m.put(s"llm.${g}_s", med(s"llm.$g") / 1000, "s")
      m.put(s"llm.$g.jobs", if (runs == 0) 0 else gj.size.toDouble / runs, "count")
      m.put(s"llm.$g.shuffle_kb",
        if (runs == 0) 0 else gj.map(_.shuffleBytes.get).sum / 1024.0 / runs, "KiB")
    }
    val jobsByOp = jobs.groupBy(_.op)
    Ops.foreach { op =>
      val roots = byName.getOrElse(s"op.$op", Nil)
      val n = roots.size
      val oj = jobs.filter(_.opType == op)
      val gapMs = roots.map { s =>
        val iv = jobsByOp.getOrElse(s.id, Nil).map(j =>
          (math.max(j.start, s.start), math.min(if (j.end == 0L) s.end else j.end, s.end)))
        (s.end - s.start - Tracer.unionNs(iv)) / 1e6
      }
      m.put(s"spark.$op.jobs", if (n == 0) 0 else oj.size.toDouble / n, "count")
      m.put(s"spark.$op.tasks", if (n == 0) 0 else oj.map(_.tasks.get).sum.toDouble / n, "count")
      m.put(s"spark.$op.driver_gap_ms", Stats.median(gapMs), "ms")
    }
    m.put("jvm.gc_ms_per_s", gcPerS, "ms/s")
    m.put("jvm.heap_after_gc_mb", Stats.heapAfterGcMb(), "MiB")
    val roots = spans.count(_.parent == 0L)
    val self = tracer.selfMsByLayer()
    SelfLayers.foreach { l =>
      val name = if (l == "op") "client" else l
      m.put(s"$name.self_ms", if (roots == 0) 0 else self.getOrElse(l, 0.0) / roots, "ms/op")
    }
    val tracedOps = w.completedOps(rec) / wall
    m.put("trace.ops_per_s", tracedOps, "ops/s")
    m.put("trace.untraced_ops_per_s", plainOpsPerS, "ops/s")
    m.put("trace.overhead_ratio", if (tracedOps == 0) 0 else plainOpsPerS / tracedOps, "ratio")
    w.traceMetrics(m, jobs)
    finished.toSeq.foreach { case (k, (v, u)) => if (m.has(k)) m.put(k, v, u) }
    m
  }
}
