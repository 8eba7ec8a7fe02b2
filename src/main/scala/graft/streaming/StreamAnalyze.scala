package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.PortableHash.h32

/** Streaming ANALYZE — the streaming twin of `table_stats_sketch`:
  * as rows stream in, maintain per-column statistics whose merge
  * operators are all COMMUTATIVE, ASSOCIATIVE, and (for extrema and
  * the sketch) IDEMPOTENT: count, min, max, and a classic
  * FIXED-REGISTER HLL (1024 registers over the suite's md5-derived
  * portable hash; register = h32(0,·) mod 1024, ρ = 33 − bitlength of
  * h32(1,·), register-max update). Fixed registers — unlike
  * DataSketches' lazily-promoting LIST→SET→HLL representation, whose
  * pairwise unions proved order-SENSITIVE in sparse mode when this
  * twin was first built — make the merged state a pure elementwise
  * max, so the streamed registers are BIT-EXACTLY the batch-computed
  * registers under any arrival order, chunking, or redelivery, and
  * the NDV estimates match the batch EXACTLY (StreamingSpec pins two
  * shuffled deliveries equal to the one-pass batch profile, and the
  * estimate inside the 3σ band of the exact distinct count). Counts
  * are additive, so redelivery is cut by [[ReplayGuard]]; sketch and
  * extrema would tolerate it even unguarded.
  *
  * Scale shape: each micro-batch reduces map-side to a ≤1024-row
  * register census per column (ONE job for all columns via a
  * per-row struct explode) plus one count/extrema row — the only
  * state that reaches the driver is that fixed-width profile, merged
  * in pure Scala (elementwise max, no executor round trip). This is
  * how a 100 TB table keeps LIVE optimizer statistics: per-partition
  * register censuses fold into the catalog profile as data lands, no
  * ANALYZE re-scan ever.
  */
object StreamAnalyze {

  val Registers = 1024

  /** Running profile of one column: row count, non-null count,
    * numeric min/max (None for non-numeric columns — table_stats'
    * NULL-by-design contract), HLL register array.
    */
  case class ColProfile(n: Long, nonNull: Long, mn: Option[Double],
                        mx: Option[Double], registers: Array[Int])

  /** One micro-batch -> per-column profile. `cols` carries the
    * numeric flag per column (extrema are only meaningful — and only
    * castable — for numeric columns). Two jobs: one count/extrema
    * aggregate, one register census for ALL columns (struct explode).
    */
  def batchProfile(batch: DataFrame, cols: Seq[(String, Boolean)])
      : Map[String, ColProfile] = {
    val aggs = cols.flatMap { case (c, numeric) =>
      Seq(count(lit(1)).as(s"n_$c"), count(col(c)).as(s"nn_$c")) ++
        (if (numeric) Seq(min(col(c).cast("double")).as(s"mn_$c"),
          max(col(c).cast("double")).as(s"mx_$c"))
        else Nil)
    }
    val row = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
    val regStructs = cols.map { case (c, _) =>
      val s = col(c).cast("string")
      struct(lit(c).as("c"),
        pmod(h32(0, s), lit(Registers)).cast("int").as("reg"),
        (lit(33) - length(bin(h32(1, s)))).cast("int").as("rho"),
        col(c).isNotNull.as("nn"))
    }
    val census = batch.select(explode(array(regStructs: _*)).as("s"))
      .filter(col("s.nn"))
      .groupBy(col("s.c").as("c"), col("s.reg").as("reg"))
      .agg(max(col("s.rho")).as("m"))
      .collect()
    val regs = cols.map(_._1 -> Array.fill(Registers)(0)).toMap
    census.foreach { r =>
      regs(r.getString(0))(r.getInt(1)) = r.getInt(2)
    }
    cols.map { case (c, numeric) =>
      def opt(f: String): Option[Double] =
        if (!numeric || row.isNullAt(row.fieldIndex(f))) None
        else Some(row.getAs[Double](f))
      c -> ColProfile(row.getAs[Long](s"n_$c"), row.getAs[Long](s"nn_$c"),
        opt(s"mn_$c"), opt(s"mx_$c"), regs(c))
    }.toMap
  }

  /** Merge two profiles: counts add, extrema min/max, registers
    * elementwise max — associative, commutative, idempotent, so the
    * fold is invariant to arrival order and redelivery.
    */
  def merge(a: ColProfile, b: ColProfile): ColProfile = {
    def comb(x: Option[Double], y: Option[Double], f: (Double, Double) => Double) =
      (x, y) match {
        case (Some(a0), Some(b0)) => Some(f(a0, b0))
        case _ => x.orElse(y)
      }
    ColProfile(a.n + b.n, a.nonNull + b.nonNull,
      comb(a.mn, b.mn, math.min), comb(a.mx, b.mx, math.max),
      Array.tabulate(Registers)(i =>
        math.max(a.registers(i), b.registers(i))))
  }

  /** Standard HLL estimate with the small-range linear-counting
    * correction — a pure function of the registers, so identical
    * registers give identical estimates everywhere.
    */
  def estimate(p: ColProfile): Double = {
    val m = Registers
    var sum = 0.0
    var zeros = 0
    p.registers.foreach { r =>
      sum += math.pow(2.0, -r)
      if (r == 0) zeros += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }

  /** Streaming wiring: [[ReplayGuard.foreachBatch]] folding each
    * batch's profile into the caller-owned ledger and emitting
    * (batchId, col, n, nonNull, ndvEst) per column per micro-batch.
    */
  def monitor(rows: DataFrame, cols: Seq[(String, Boolean)],
              checkpointDir: String,
              state: scala.collection.mutable.Map[String, ColProfile],
              startAfter: Long = -1L)(
      sink: ((Long, String, Long, Long, Double)) => Unit): DataStreamWriter[Row] =
    ReplayGuard.foreachBatch(rows, checkpointDir, startAfter) { b =>
      ReplayGuard.mergeInto(state, batchProfile(b, cols))(merge)
    } { (_, id) =>
      cols.map(_._1).sorted.foreach { c =>
        state.get(c).foreach { p =>
          sink((id, c, p.n, p.nonNull, estimate(p)))
        }
      }
    }
}
