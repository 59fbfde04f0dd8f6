package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import graft.ops.TimeSeriesOps
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** The ordered per-key fold behind the streaming twins of the batch
  * `events_ema` / `events_holt` / `events_hw` / `events_cusum` queries — a
  * state type plus an update function, the Structured Streaming shape of a
  * stateful operator. Each micro-batch's rows for a key are sorted by the
  * (us, event_id) total order the batch queries' `array_sort` pins, folded
  * with `step` onto the carried state (`zero` for a new key), and the
  * post-batch state is emitted once per touched key (update mode).
  *
  * Exactness contract: when micro-batches partition each key's series in
  * event-time order (replay of a log, a monotonic feed — the V2 source's
  * WAL guarantees per-poll order), the streaming state after batch k is
  * BIT-IDENTICAL to the batch query over the union of batches 1..k,
  * because both engines execute the same op sequence on the same doubles.
  * Cross-batch stragglers fold late — the usual streaming trade; bound
  * them with a watermark upstream if late data must instead be dropped.
  */
class OrderedFold[S, O](name: String, stateEnc: Encoder[S], zero: S,
    step: (String, S, Long, Double) => S, emit: (String, S) => O)
    extends StatefulProcessor[String, (String, Long, Long, Double), O] {

  @transient private var state: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](name, stateEnc, TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Long, Double)],
      timers: TimerValues): Iterator[O] = {
    val sorted = rows.toArray.sortBy(r => (r._2, r._3))
    if (sorted.isEmpty) Iterator.empty
    else {
      var st = if (state.exists()) state.get() else zero
      for ((_, us, _, v) <- sorted) st = step(key, st, us, v)
      state.update(st)
      Iterator.single(emit(key, st))
    }
  }
}

object OrderedFold {
  /** Project `df` to (key, order micros, event id, value), fold each key
    * with `step` and name the emitted columns `cols`. `name` is the state
    * variable's name inside the checkpoint. */
  def apply[S <: Product : TypeTag, O <: Product : TypeTag](df: DataFrame,
      keyCol: String, tsCol: String, idCol: String, valueCol: String,
      name: String, zero: S, step: (String, S, Long, Double) => S,
      emit: (String, S) => O, cols: String*): DataFrame =
    df.select(col(keyCol).cast("string"), Ordinals.micros(df, tsCol).cast("long"),
        col(idCol).cast("long"), col(valueCol).cast("double"))
      .as(Encoders.product[(String, Long, Long, Double)])
      .groupByKey((r: (String, Long, Long, Double)) => r._1)(Encoders.STRING)
      .transformWithState(
        new OrderedFold(name, Encoders.product[S], zero, step, emit),
        TimeMode.None(), OutputMode.Update())(Encoders.product[O])
      .toDF(cols: _*)
}

/** Per-key EMA carry: event count, last event-time micros, and the
  * running EMA — three numbers per key regardless of stream length. */
case class EmaState(n: Long, lastUs: Long, ema: Double)

/** Streaming twin of `events_ema`: the ordered fold `acc·(1−α) + v·α`,
  * seeded from the first value when the key is new. */
object EmaMonitor {
  def emas(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, alpha: Double = 0.3): DataFrame =
    OrderedFold(df, keyCol, tsCol, idCol, valueCol, "ema",
      EmaState(0L, Long.MinValue, 0.0),
      (_: String, st: EmaState, us: Long, v: Double) => EmaState(st.n + 1,
        if (us > st.lastUs) us else st.lastUs,
        if (st.n == 0L) v else st.ema * (1.0 - alpha) + v * alpha),
      (k: String, st: EmaState) => (k, st.n, st.lastUs, st.ema),
      "user_id", "n_events", "last_us", "ema")
}

/** Per-key Holt carry: event count, first value (needed only until the
  * second event seeds the trend), level, and trend — four numbers per
  * key regardless of stream length. */
case class HoltState(n: Long, v1: Double, l: Double, b: Double)

/** Streaming twin of `events_holt`. The batch query seeds l₁ = v₁,
  * b₁ = v₂ − v₁ and folds l' = α·v + (1−α)(l+b), b' = β(l'−l) + (1−β)b
  * over v₂… — the single-event state matches the batch's (level = v₁,
  * trend = 0) edge, the second event runs the seed + first update in the
  * batch's exact op sequence (b is seeded BEFORE the v₂ update folds,
  * reproducing the aggregate-seed arithmetic), and every later event is
  * one update step. α and β are the shared TimeSeriesOps constants. */
object HoltMonitor {
  def holts(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String): DataFrame =
    OrderedFold(df, keyCol, tsCol, idCol, valueCol, "holt",
      HoltState(0L, 0.0, 0.0, 0.0),
      (_: String, st: HoltState, _: Long, v: Double) => {
        val A = TimeSeriesOps.HoltA
        val B = TimeSeriesOps.HoltB
        if (st.n == 0L) HoltState(1L, v, v, 0.0)
        else {
          // seed the trend from (v1, v2) exactly when the second event
          // arrives, then fold — including folding v2 itself, the
          // batch aggregate's first step
          val (l0, b0) =
            if (st.n == 1L) (st.v1, v - st.v1) else (st.l, st.b)
          val l2 = A * v + (1 - A) * (l0 + b0)
          val b2 = B * (l2 - l0) + (1 - B) * b0
          HoltState(st.n + 1, st.v1, l2, b2)
        }
      },
      (k: String, st: HoltState) => (k, st.n, st.l, st.b, st.l + st.b),
      "user_id", "n_events", "level", "trend", "forecast")
}

/** Per-key Holt-Winters carry: event count, the first up-to-[[TimeSeriesOps.HwM]]
  * raw values (needed only until the season seeds), level, trend, and the
  * ROTATED seasonal vector — 2·m + 3 numbers per key regardless of stream
  * length. */
case class HwState(n: Long, f1: Double, f2: Double, f3: Double, f4: Double,
    l: Double, b: Double, s1: Double, s2: Double, s3: Double, s4: Double)

/** Streaming twin of `events_hw`. The batch query seeds from the FIRST
  * season — l₀ = mean(v₁..v_k), k = min(n, m), b₀ = 0, s_i = v_i − l₀
  * (0 past k) — and folds the rotated-seasonal update over v_{m+1}…;
  * while n ≤ m each arrival re-derives the seed from the retained firsts
  * in the batch's exact op sequence (the left-fold mean, then the
  * deviations), and every later arrival is one rotation step. Gains are
  * the shared TimeSeriesOps constants. */
object HwMonitor {
  def hw(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String): DataFrame = {
    // HwState's flat schema carries exactly 4 first-season and 4 seasonal
    // slots; the batch op adapts to any HwM but this twin cannot — fail
    // loudly instead of silently diverging from the bit-identity contract.
    require(TimeSeriesOps.HwM == 4,
      s"HwState is fixed at m=4 slots but TimeSeriesOps.HwM=${TimeSeriesOps.HwM}; " +
        "widen HwState and its step before changing the season length")
    OrderedFold(df, keyCol, tsCol, idCol, valueCol, "hw",
      HwState(0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      (_: String, st: HwState, _: Long, v: Double) => {
        val A = TimeSeriesOps.HwA
        val B = TimeSeriesOps.HwB
        val G = TimeSeriesOps.HwG
        val M = TimeSeriesOps.HwM
        if (st.n < M) {
          // still inside the first season: retain v, re-derive the seed
          // from the firsts with the batch's exact arithmetic (left-fold
          // sum, divide once, then per-slot deviations; missing slots 0)
          val n = (st.n + 1).toInt
          val f = Array(st.f1, st.f2, st.f3, st.f4)
          f(n - 1) = v
          val l0 = f.take(n).foldLeft(0.0)(_ + _) / n
          val s = Array.tabulate(M)(i => if (i < n) f(i) - l0 else 0.0)
          HwState(n.toLong, f(0), f(1), f(2), f(3),
            l0, 0.0, s(0), s(1), s(2), s(3))
        } else {
          // one rotated fold step — the batch lambda's op sequence
          val lN = A * (v - st.s1) + (1 - A) * (st.l + st.b)
          val bN = B * (lN - st.l) + (1 - B) * st.b
          val sN = G * (v - (st.l + st.b)) + (1 - G) * st.s1
          HwState(st.n + 1, st.f1, st.f2, st.f3, st.f4,
            lN, bN, st.s2, st.s3, st.s4, sN)
        }
      },
      (k: String, st: HwState) =>
        (k, st.n, st.l, st.b, st.s1, st.l + st.b + st.s1),
      "user_id", "n_events", "level", "trend", "season_next", "forecast")
  }
}

/** Per-key CUSUM carry: event count, both one-sided sums, alarm count —
  * O(1) state regardless of stream length. */
case class CusumState(n: Long, sp: Double, sm: Double, alarms: Long)

/** Streaming twin of `events_cusum`, in the parameterization a production
  * drift monitor actually runs: μ and σ are FROZEN per-key baseline values
  * supplied at wiring time (estimated from a reference window), because a
  * stream cannot know its final moments up front — the batch op, by
  * contrast, uses the series' own moments. The fold itself is the
  * identical op sequence (allowance K = σ/2, decision interval H = 4σ,
  * reset-on-alarm), so when the frozen baseline equals the batch op's own
  * (μ, σ) the streaming (n_alarms, s_plus, s_minus) is BIT-IDENTICAL to
  * `events_cusum`. σ = 0 keys (a constant baseline window) degrade
  * alarm-free like the batch op; keys with NO baseline at all are counted
  * but never scored — a frozen-baseline monitor cannot meaningfully
  * standardize an unseen key (the naive μ = σ = 0 default would alarm on
  * every nonzero arrival), so new keys surface via n_events with zero
  * sums/alarms until a baseline refit includes them. */
object CusumMonitor {
  def cusum(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, baseline: Map[String, (Double, Double)]): DataFrame =
    OrderedFold(df, keyCol, tsCol, idCol, valueCol, "cusum",
      CusumState(0L, 0.0, 0.0, 0L),
      (key: String, st: CusumState, _: Long, v: Double) =>
        baseline.get(key) match {
          case Some((mu, sd)) =>
            val k = TimeSeriesOps.CusumK * sd
            val h = TimeSeriesOps.CusumH * sd
            val sp = math.max(0.0, st.sp + (v - mu - k))
            val sm = math.max(0.0, st.sm + (mu - k - v))
            val alarm = sp > h || sm > h
            CusumState(st.n + 1,
              if (alarm) 0.0 else sp, if (alarm) 0.0 else sm,
              st.alarms + (if (alarm) 1L else 0L))
          case None => st.copy(n = st.n + 1) // no baseline: count only
        },
      (k: String, st: CusumState) => (k, st.n, st.alarms, st.sp, st.sm),
      "user_id", "n_events", "n_alarms", "s_plus", "s_minus")
}
