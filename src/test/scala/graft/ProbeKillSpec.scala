package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pgrep-output parse that AIMS the probes' executor kill
  * ([[ProbeKill.parsePgrep]]): a wrong pid here means SIGKILLing the
  * wrong process, so the parse must extract exactly the (executor-id,
  * pid) pairs and skip anything malformed rather than guess.
  */
class ProbeKillSpec extends AnyFunSuite {

  test("parsePgrep extracts executor-id -> pid from Worker-spawned command lines") {
    val out =
      """17098 /usr/lib/jvm/java-17/bin/java -cp /opt/spark/jars/* --add-opens java.base/java.lang=ALL-UNNAMED org.apache.spark.executor.CoarseGrainedExecutorBackend --driver-url spark://CoarseGrainedScheduler@host:43211 --executor-id 0 --hostname 127.0.0.1 --cores 2 --app-id app-20260816-0000 --worker-url spark://Worker@host:34567
        |19065 /usr/lib/jvm/java-17/bin/java org.apache.spark.executor.CoarseGrainedExecutorBackend --driver-url spark://x --executor-id 2 --app-id app-20260816-0000
        |""".stripMargin
    assert(ProbeKill.parsePgrep(out) == Map("0" -> 17098L, "2" -> 19065L))
  }

  test("parsePgrep skips malformed lines instead of mis-aiming") {
    val out =
      """not-a-pid java CoarseGrainedExecutorBackend --executor-id 1
        |12345 java CoarseGrainedExecutorBackend with no executor id flag
        |12346 java CoarseGrainedExecutorBackend --executor-id
        |
        |777 java CoarseGrainedExecutorBackend --executor-id 3 --app-id a
        |""".stripMargin
    // only the fully-formed line survives: no pid guess, no trailing-flag pair
    assert(ProbeKill.parsePgrep(out) == Map("3" -> 777L))
    assert(ProbeKill.parsePgrep("") == Map.empty)
  }

  test("duplicate executor ids (stale + relaunched process in one snapshot) last-wins without crashing") {
    // pgrep can catch a dying executor and its relaunched successor under
    // the same id in one snapshot; either pid is a valid kill target (the
    // probes re-query at kill time), the parse just must not throw.
    val out =
      """100 CoarseGrainedExecutorBackend --executor-id 1 --app-id a
        |200 CoarseGrainedExecutorBackend --executor-id 1 --app-id a
        |""".stripMargin
    val m = ProbeKill.parsePgrep(out)
    assert(m.keySet == Set("1") && Set(100L, 200L).contains(m("1")))
  }

  // --- kill-token semantics (round-17: the disarm race is closed by a
  // consume-once permit, not a re-check; these pin the CAS contract the
  // spawned kill thread and disarm() both rely on) ---------------------

  test("kill token: an armed window grants exactly one kill permit") {
    val k = new ProbeKill.TaskStartKiller("spec-app-never-queried")
    k.arm(1)
    assert(k.consumeKillToken(), "first consumer must win the permit")
    assert(!k.consumeKillToken(), "permit is consume-once within a window")
  }

  test("kill token: disarm revokes the permit, so a post-disarm kill cannot fire") {
    val k = new ProbeKill.TaskStartKiller("spec-app-never-queried")
    k.arm(1)
    k.disarm() // consumes the token (and joins any spawned killer — none here)
    assert(!k.consumeKillToken(),
      "a kill thread reaching its CAS after disarm must find the permit gone")
  }

  test("kill token: re-arming grants a fresh permit after a consumed window") {
    val k = new ProbeKill.TaskStartKiller("spec-app-never-queried")
    k.arm(1)
    k.disarm()
    k.arm(1)
    assert(k.consumeKillToken(), "each armed window carries its own permit")
  }

  // --- dirSignature: the probe's "committed content unchanged" evidence ---

  test("dirSignature: a rewrite changes the signature, an added file is a new key, .tmp-* is ignored") {
    import java.nio.file.{Files, Path}
    val dir = Files.createTempDirectory("probe_sig")
    try {
      def write(p: Path, bytes: String): Unit = {
        Files.createDirectories(p.getParent)
        Files.write(p, bytes.getBytes("UTF-8"))
      }
      write(dir.resolve("snap-0/part-0.parquet"), "abc")
      write(dir.resolve("LATEST"), "snap-0")
      val before = ProbeKill.dirSignature(dir.toString)
      assert(before.keySet == Set("snap-0/part-0.parquet", "LATEST"))
      assert(before("snap-0/part-0.parquet")._1 == 3L)

      // a sibling in-flight commit, and a tmp file inside a committed dir
      write(dir.resolve(".tmp-snap-1-uuid/part-0.parquet"), "in flight")
      write(dir.resolve("snap-0/.tmp-x"), "abandoned")
      assert(ProbeKill.dirSignature(dir.toString) == before, ".tmp-* entries must not enter the signature")

      write(dir.resolve("snap-1/part-0.parquet"), "defg")
      val added = ProbeKill.dirSignature(dir.toString)
      assert(added.keySet == before.keySet + "snap-1/part-0.parquet")
      assert(added.view.filterKeys(before.contains).toMap == before)

      // same length, new mtime
      val f = dir.resolve("snap-0/part-0.parquet").toFile
      assert(f.setLastModified(f.lastModified - 10000L))
      assert(ProbeKill.dirSignature(dir.toString)("snap-0/part-0.parquet") != before("snap-0/part-0.parquet"))
      // new length, mtime restored
      val mtime = before("snap-0/part-0.parquet")._2
      write(dir.resolve("snap-0/part-0.parquet"), "abcd")
      assert(f.setLastModified(mtime))
      assert(ProbeKill.dirSignature(dir.toString)("snap-0/part-0.parquet") == ((4L, mtime)))
      assert(ProbeKill.dirSignature(dir.resolve("missing").toString).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
