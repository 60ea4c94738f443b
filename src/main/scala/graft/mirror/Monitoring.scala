package graft.mirror

/** Slot lag — the reference's headline replication gauge
  * (PeerDBSlotLagGBs, monitoring.go; here in RECORDS, the WAL simulator's
  * native unit): distance between the WAL head and the stream's committed
  * offset. Reads the head from the last WAL segment only and the
  * committed checkpoint from the newest offsets file — O(1) in history
  * size, safe to poll. */
object SlotLag {

  /** Committed source offset from a Structured Streaming checkpoint
    * (offsets/<maxBatch>; the last line is the source's Offset JSON —
    * a bare checkpointId for the graft WAL source). None before the
    * first batch commits. */
  def committedCp(checkpointDir: String): Option[Long] = {
    val dir = java.nio.file.Paths.get(checkpointDir, "offsets")
    if (!java.nio.file.Files.isDirectory(dir)) return None
    import scala.jdk.CollectionConverters._
    val latest = java.nio.file.Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxByOption(_.getFileName.toString.toLong)
    latest.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala
        .filter(_.nonEmpty).lastOption
        // plain long OR {"cp":N,"text":...} (text-checkpoint sources)
        .flatMap(l =>
          scala.util.Try(graft.cdc.CpOffset.fromJson(l).cp).toOption)
    }
  }

  /** Records the mirror is behind the WAL head; 0 when fully caught up. */
  def records(walDir: String, checkpointDir: String): Long = {
    val head = graft.cdc.ChangeLogWal.headCp(walDir)
    val committed = committedCp(checkpointDir).getOrElse(-1L)
    math.max(0L, head - committed)
  }

  /** Poll the lag gauge and feed it through the [[Alerting.Alerter]] —
    * the reference's slot-monitoring loop ending in
    * `Alerter.AlertIfSlotLag` (flow/alerting/alerting.go:124). The gauge
    * unit here is RECORDS (the WAL simulator's native unit, vs the
    * reference's MB) — configure sender/default thresholds in the same
    * unit. Returns whatever fired so callers can route/log alerts. */
  def alertCheck(alerter: Alerting.Alerter, flowName: String,
      peerName: String, walDir: String, checkpointDir: String)
      : Seq[Alerting.Alert] =
    alerter.alertIfSlotLag(flowName, peerName, s"graft_wal:$walDir",
      records(walDir, checkpointDir))

  /** The full slot-monitoring tick with a stats catalog attached: gauge
    * history into `peer_slot_size` (AppendSlotSizeInfo,
    * monitoring.go:327-350), threshold check, and each fired alert also
    * logged as a `flow_errors` warn row (the catalog insert step of
    * Alerter.AlertIfSlotLag, alerting.go:163-176 + the InsertFlowLog at
    * :370). */
  def recordCheck(stats: StatsCatalog, alerter: Alerting.Alerter,
      flowName: String, peerName: String, walDir: String,
      checkpointDir: String): Seq[Alerting.Alert] = {
    val slot = s"graft_wal:$walDir"
    val lag = records(walDir, checkpointDir)
    stats.appendSlotSize(peerName, slot,
      committedCp(checkpointDir).getOrElse(-1L), lag)
    stats.flush()
    val fired = alerter.alertIfSlotLag(flowName, peerName, slot, lag)
    fired.foreach(a => stats.logFlowWarning(flowName, a.message))
    fired
  }

  /** Normalize-staleness tick (the activity that feeds
    * `AlertIfTooLongSinceLastNormalize`, alerting.go:243-279): read
    * the time since the flow's last COMPLETED normalize from the
    * stats catalog, alert past `thresholdMinutes`
    * (alerting.interval_since_last_normalize_minutes; 0 disables),
    * and log each firing as a flow_errors warn row like the slot
    * check. A flow with no completed batch never fires — initial
    * load is not staleness. */
  def normalizeStaleCheck(stats: StatsCatalog,
      alerter: Alerting.Alerter, flowName: String,
      thresholdMinutes: Long): Seq[Alerting.Alert] =
    stats.msSinceLastNormalize().get(flowName).toSeq.flatMap { ms =>
      val fired = alerter.alertIfTooLongSinceLastNormalize(
        flowName, ms / 60000L, thresholdMinutes)
      fired.foreach(a => stats.logFlowWarning(flowName, a.message))
      fired
    }
}

/** Capture lag — how much captured wire data a capture-backed mirror has
  * not yet acked into its WAL. Byte-exact for binlog `file:pos` offsets
  * (sum of later files + the remainder of the acked file — O(#files)
  * metadata, safe to poll); GTID-set offsets have no byte mapping
  * without a decode pass and return None, as does an absent offset.
  *
  * Relies on the capture contract that [[graft.cdc.MysqlBinlogFiles]]
  * ENFORCES at ingest (decoder.seedFile per capture file): a capture
  * file's stem is the binlog file name it holds, so the stored offset's
  * file component always names an actual capture stem and stem order is
  * checkpoint order. Flavor detection shares
  * [[graft.cdc.TextCheckpoint.flavor]] with the resume logic so the
  * gauge and ingest can never read the same offset differently. */
object CaptureLag {

  def bytes(captureDir: String, checkpointDir: String,
      conf: org.apache.hadoop.conf.Configuration): Option[Long] = {
    // live socket endpoints have no local byte inventory to diff against
    if (graft.cdc.CaptureEndpoint.isUrl(captureDir)) return None
    val offset = graft.util.FsText
      .read(s"$checkpointDir/_capture_offset", conf)
      .getOrElse(return None)
    if (graft.cdc.TextCheckpoint.flavor(offset) !=
        graft.cdc.TextCheckpoint.FilePos)
      return None // GTID flavors: no byte mapping
    val (ackedFile, ackedPos) = offset.split(":", 2) match {
      case Array(f, p) if p.nonEmpty && p.forall(_.isDigit) =>
        (f, p.toLong)
      case _ => return None // malformed offset: no gauge, not a crash
    }
    val dir = java.nio.file.Paths.get(captureDir)
    if (!java.nio.file.Files.isDirectory(dir)) return Some(0L)
    import scala.jdk.CollectionConverters._
    var lag = 0L
    java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".binlog"))
      .foreach { p =>
        val stem = p.getFileName.toString.stripSuffix(".binlog")
        val size = java.nio.file.Files.size(p)
        val cmp = stem.compareTo(ackedFile)
        if (cmp > 0) lag += size
        else if (cmp == 0) lag += math.max(0L, size - ackedPos)
      }
    Some(lag)
  }
}
