package graft

import java.sql.Timestamp
import java.time.LocalDateTime
import java.time.format.{DateTimeFormatter, DateTimeParseException}

/** The `--flag value` tail of the spark-submit mains ([[RunPipeline]],
  * [[RunErasure]], [[RunMaintain]]). A main's usage text is its flag
  * list: every `--name` token in it is accepted and nothing else, so a
  * misspelled flag fails the job instead of silently running without
  * it (a `--vacum true` would otherwise skip the post-erasure vacuum). */
private[graft] object CliFlags {

  private val FlagToken = "--[a-z][a-z0-9-]*".r

  /** `args` as flag -> value. Throws `IllegalArgumentException` naming
    * the flag, followed by `usage`, on a flag the usage does not list or
    * a flag with no value (last in `args`, or followed by another
    * flag). */
  def parse(args: Seq[String], usage: String): Map[String, String] = {
    val known = FlagToken.findAllIn(usage).toSet
    def refuse(why: String): Nothing =
      throw new IllegalArgumentException(s"$why\n$usage")
    args.grouped(2).map { kv =>
      val k = kv.head
      if (!known(k)) refuse(s"unknown flag '$k'")
      kv.lift(1).filterNot(_.startsWith("--")).map(k -> _)
        .getOrElse(refuse(s"flag '$k' has no value"))
    }.toMap
  }

  private val WallClock = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** `flag`'s `yyyy-MM-dd HH:mm:ss` value as UTC wall-clock time.
    * `Timestamp.valueOf` would read it in the JVM's default zone, which
    * is the host's, and shift the instant by its UTC offset. Throws
    * `IllegalArgumentException` naming the flag on any other shape. */
  def utcTimestamp(flag: String, value: String): Timestamp =
    try Timestamp.from(LocalDateTime.parse(value, WallClock)
      .toInstant(java.time.ZoneOffset.UTC))
    catch { case _: DateTimeParseException =>
      throw new IllegalArgumentException(
        s"unparseable $flag '$value' (expected yyyy-MM-dd HH:mm:ss)") }
}
