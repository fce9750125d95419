package graft

import org.apache.spark.sql.DataFrame

/** Kill-and-resume soak (VERDICT r14 #3) — the driver of
  * `tools/soak_resume.sh`: proves the iterative-loop fault contract
  * END TO END across a REAL JVM kill, not a simulated throw.
  *
  *  - `crash <stateDir> <k>`: runs the CC star loop over a 50k-node
  *    chain (the adversarial O(log n)-round shape) under a reliable
  *    `spark.graft.checkpointDir`, and `Runtime.halt`s the JVM the
  *    instant round k's state is durably committed — no shutdown hooks,
  *    no cleanup, the crash a preempted driver actually is.
  *  - `resume <stateDir>`: re-runs over the SAME state dir; the loop
  *    resumes at the newest committed round (printed as `SOAK
  *    resumed-at=<i>`) and prints a deterministic MD5 over the sorted
  *    (id, label) output as `SOAK resume hash=<h>`.
  *  - `clean`: an uninterrupted run with no state dir; prints
  *    `SOAK clean hash=<h>`.
  *
  * The soak passes iff the resume hash equals the clean hash AND the
  * resume provably started past the kill round. */
object SoakResume {
  private val ChainNodes = 50000L

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    spark.conf.set(graft.operators.Ckpt.DirConf, "/tmp/graft-soak-ckpt")
    import spark.implicits._
    val edges = spark.range(1L, ChainNodes).selectExpr("id AS a", "id + 1 AS b")

    def run(resumeDir: Option[String], onCommit: Int => Unit): DataFrame =
      graft.operators.Graph.connectedComponentsStar(edges, "a", "b",
        resumeDir = resumeDir, onRoundCommitted = onCommit)

    def hash(labels: DataFrame): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      labels.orderBy("id").as[(Long, Long)].collect().foreach { case (id, l) =>
        md.update(s"$id:$l;".getBytes("UTF-8"))
      }
      md.digest().map(b => f"$b%02x").mkString
    }

    args.toList match {
      case "crash" :: dir :: k :: Nil =>
        run(Some(dir), i => {
          System.err.println(s"[soak] committed round $i")
          if (i >= k.toInt) {
            System.err.println(s"[soak] halting after committed round $i")
            Runtime.getRuntime.halt(137) // a real kill: no hooks, no cleanup
          }
        })
        ()
      case "resume" :: dir :: Nil =>
        var first = true
        val out = run(Some(dir), i => {
          if (first) { println(s"SOAK resumed-at=$i"); first = false }
        })
        println(s"SOAK resume hash=${hash(out)}")
      case "clean" :: Nil =>
        println(s"SOAK clean hash=${hash(run(None, _ => ()))}")
      case other =>
        System.err.println(s"usage: crash <dir> <k> | resume <dir> | clean (got $other)")
        sys.exit(2)
    }
    spark.stop()
  }
}
