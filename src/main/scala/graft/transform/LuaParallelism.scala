package graft.transform

import org.apache.spark.sql.DataFrame

/** The Lua stages' fan-out policy — PEERDB_QUEUE_PARALLELISM
  * (dynamicconf.go:199, the reference's LuaPool SIZE: a concurrency
  * bound, not just a floor) mapped onto partition count:
  *
  *   - configured > 0: the stage runs at EXACTLY that width — wide
  *     inputs coalesce down (bounding concurrent interpreters, the
  *     pool-size semantics an operator sets the knob for), narrow
  *     inputs repartition up;
  *   - unset/0: only the small-batch spread applies ([[graft.util
  *     .Spread]], the one width policy) — a batch arriving as fewer
  *     partitions than min(4, defaultParallelism) spreads to
  *     defaultParallelism so per-record interpretation never runs
  *     single-threaded while cores idle; multi-partition and
  *     exchange-topped batches keep their layout (no shuffle, and no
  *     width probe that would run one, on the hot path).
  *
  * `env` is the mirror's per-flow override map
  * (FlowConnectionConfigs.env — dynLookup's env-first order). */
private[transform] object LuaParallelism {

  def spread(df: DataFrame,
      env: Map[String, String] = Map.empty): DataFrame = {
    val configured = graft.mirror.Settings
      .get(df.sparkSession, "queue.parallelism", env).map(_.toInt)
      .getOrElse(0)
    if (configured > 0) {
      // repartition in BOTH directions: coalesce(narrower) would fuse
      // the bound into the upstream stage and run the PULL at the
      // configured width too (a parallelism of 4 over a 200-partition
      // scan collapses the whole stage to 4 tasks), where the
      // reference's LuaPool bounds only interpreter concurrency and
      // the pull stays wide. The shuffle is the price of the knob;
      // unset leaves the hot path shuffle-free below.
      if (graft.util.Spread.width(df).contains(configured)) df
      else df.repartition(configured)
    } else graft.util.Spread(df)
  }
}
