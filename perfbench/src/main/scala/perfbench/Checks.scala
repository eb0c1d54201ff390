package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{bit_xor, col, count, hash, lit}

/** Order-independent content digest: row count and `bit_xor(hash(...))`
  * over the given columns, in that order.
  */
final case class Digest(rows: Long, xor: Int)

object Checks {
  /** One digest per column list, all from a single pass over `df`. */
  def digests(df: DataFrame, colLists: Seq[Seq[Column]]): Seq[Digest] = {
    val r = df.agg(count(lit(1)), colLists.map(cs => bit_xor(hash(cs: _*))): _*).collect()(0)
    colLists.indices.map(i => Digest(r.getLong(0), if (r.isNullAt(i + 1)) 0 else r.getInt(i + 1)))
  }

  def digest(df: DataFrame, cols: Seq[String]): Digest = digests(df, Seq(cols.map(col))).head

  def digest(df: DataFrame): Digest = digest(df, df.columns.toSeq)
}

/** Untimed work (input generation, output checks) spread over a few
  * client threads; Spark runs their jobs side by side.
  */
object Par {
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
