package lakebench

import scala.collection.mutable.ArrayBuffer

/** A tail percentile as reported: the percentile actually used, its value,
  * the sample count and how many samples lie beyond it.
  */
final case class Tail(percentile: Double, value: Double, samples: Int, beyond: Int) {
  def describe: String =
    f"p${percentile * 100}%.1f of $samples samples ($beyond beyond)"
}

object Stats {
  /** Samples a tail percentile must have beyond it to be reported. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Index of the nearest-rank `p` percentile among `n` sorted samples. */
  private def rank(n: Int, p: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(p * n - 1e-9).toInt - 1))

  /** The `wanted` percentile, or the highest lower one that still has
    * [[MinBeyond]] samples beyond it. None when there are too few samples
    * for any tail above the median.
    */
  def tail(xs: Seq[Double], wanted: Double): Option[Tail] = {
    val n = xs.length
    val k = math.min(rank(n, wanted), n - 1 - MinBeyond)
    if (k < 0 || k + 1 <= n / 2) None
    else {
      val s = xs.sorted
      Some(Tail((k + 1).toDouble / n, s(k), n, n - 1 - k))
    }
  }
}

/** Outcomes of one kind of operation. A failed, refused, timed-out or
  * wrong-answer operation counts as attempted and failed and adds no
  * latency sample.
  */
final class OpLog(val name: String) {
  private val samples = ArrayBuffer[Double]()
  private var attempts = 0
  private var failures = 0
  private val firstErrors = ArrayBuffer[String]()

  def ok(ms: Double): Unit = synchronized { attempts += 1; samples += ms }
  def fail(why: String): Unit = synchronized {
    attempts += 1; failures += 1
    if (firstErrors.length < 3) firstErrors += why
  }

  def attempted: Int = synchronized(attempts)
  def failed: Int = synchronized(failures)
  def latencies: Seq[Double] = synchronized(samples.toList)
  def errors: Seq[String] = synchronized(firstErrors.toList)

  /** Runs `op`, times it and accepts its result only if `check` passes; the
    * check runs after the clock stops.
    */
  def timed[A](op: => A)(check: A => Option[String]): Option[A] = timedMs(op)(check).map(_._1)

  /** As [[timed]], also returning the accepted operation's time in ms. */
  def timedMs[A](op: => A)(check: A => Option[String]): Option[(A, Double)] = {
    val t0 = System.nanoTime()
    val r = try Right(op) catch { case scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(e) => fail(s"$name: $e"); None
      case Right(v) =>
        val wrong = try check(v) catch {
          case scala.util.control.NonFatal(e) => Some(s"check threw $e")
        }
        wrong match {
          case None => ok(ms); Some((v, ms))
          case Some(w) => fail(s"$name: $w"); None
        }
    }
  }
}

/** Times of whole rounds. A round is a workload's fixed sequence of
  * operations, one of each kind it defines; its time is the sum of its
  * operations' times, so every kind moves it by its own cost. A round with
  * a failed operation adds no sample.
  */
final class RoundLog {
  private val samples = ArrayBuffer[Double]()
  private var sum = 0.0
  private var clean = true

  /** Runs one operation of the current round, logged in `log`. */
  def op[A](log: OpLog)(body: => A)(check: A => Option[String]): Option[A] = {
    val r = log.timedMs(body)(check)
    r match {
      case Some((_, ms)) => sum += ms
      case None => clean = false
    }
    r.map(_._1)
  }

  def endRound(): Unit = {
    if (clean) samples += sum
    sum = 0.0
    clean = true
  }

  def roundMs: Seq[Double] = samples.toList
}

object OpLog {
  def attempted(logs: Seq[OpLog]): Int = logs.map(_.attempted).sum
  def failed(logs: Seq[OpLog]): Int = logs.map(_.failed).sum
}
