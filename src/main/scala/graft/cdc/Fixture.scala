package graft.cdc

import java.nio.file.{Files, Paths, Path}
import java.nio.charset.StandardCharsets

/** Deterministic CDC envelope fixture (FIXTURES.md §3): ~200 row events
  * over 40 student ids with interleaved insert/update/delete, update
  * chains, delete-then-reinsert, and begin/relation/commit noise that
  * the tag filter must drop. Fixed LCG seed; fixed-width hex LSNs so
  * lexicographic order == numeric order.
  *
  * The same event list feeds (a) the JSON-lines file Spark replays
  * (batch for Q19, file-stream for parity tests) and (b) the DuckDB
  * VALUES oracle built by [[valuesSql]] — one generator, two renders,
  * so the oracle can't drift from the replayed input.
  */
object Fixture {

  final case class Ev(
      lsn: String, tag: String,
      id: Long, firstName: String, lastName: String,
      dateOfBirth: String, statusId: Int)

  private val firstNames = Vector("Ada", "Grace", "Alan", "Edsger", "Barbara",
    "Donald", "Leslie", "Tony", "John", "Margaret")
  private val lastNames = Vector("Lovelace", "Hopper", "Turing", "Dijkstra",
    "Liskov", "Knuth", "Lamport", "Hoare", "Backus", "Hamilton")

  /** Row-change events only (insert/update/delete), LSN-ordered. */
  lazy val rowEvents: Vector[Ev] = {
    var seed = 42L
    def next(n: Int): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (((seed >>> 33) % n).toInt + n) % n
    }
    val alive = scala.collection.mutable.Set[Long]()
    val out = Vector.newBuilder[Ev]
    var lsnSeq = 1
    for (_ <- 0 until 200) {
      val id = next(40).toLong
      val lsn = f"0/${lsnSeq * 16}%08X"
      lsnSeq += 1
      val fn = firstNames(next(10))
      val ln = lastNames(next(10))
      val dob = f"19${60 + next(40)}%02d-${1 + next(12)}%02d-${1 + next(28)}%02d"
      val st = 1 + next(2)
      if (!alive(id)) {
        alive += id
        out += Ev(lsn, "insert", id, fn, ln, dob, st)
      } else if (next(10) < 3) {
        alive -= id
        out += Ev(lsn, "delete", id, null, null, null, -1)
      } else {
        out += Ev(lsn, "update", id, fn, ln, dob, st)
      }
    }
    out.result()
  }

  private def jsonLine(e: Ev): String = e.tag match {
    case "delete" =>
      s"""{"lsn": "${e.lsn}", "tag": "delete", "table": "students", "old": {"id": ${e.id}}}"""
    case t =>
      s"""{"lsn": "${e.lsn}", "tag": "$t", "table": "students", "new": {"id": ${e.id}, "first_name": "${e.firstName}", "last_name": "${e.lastName}", "date_of_birth": "${e.dateOfBirth}", "status_id": ${e.statusId}}}"""
  }

  /** All lines including transaction-control noise every 5 row events. */
  lazy val jsonLines: Vector[String] = {
    val b = Vector.newBuilder[String]
    var n = 0
    b += s"""{"lsn": "0/00000001", "tag": "begin"}"""
    b += s"""{"lsn": "0/00000002", "tag": "relation", "table": "students"}"""
    rowEvents.foreach { e =>
      b += jsonLine(e)
      n += 1
      if (n % 5 == 0) {
        b += s"""{"lsn": "${e.lsn}F", "tag": "commit"}"""
        b += s"""{"lsn": "${e.lsn}FF", "tag": "begin"}"""
      }
    }
    b += s"""{"lsn": "0/FFFFFFFF", "tag": "commit"}"""
    b.result()
  }

  /** Write the fixture (idempotent, deterministic content) and return
    * the file path. Lives under the JVM temp dir — the harness has no
    * writable data dir and the content is regenerable. */
  def materialize(): String = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_cdc_fixture")
    Files.createDirectories(dir)
    val f = dir.resolve("envelope.jsonl")
    val content = jsonLines.mkString("\n")
    if (!Files.exists(f) || !(new String(Files.readAllBytes(f), StandardCharsets.UTF_8) == content))
      Files.write(f, content.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  /** Same events as one chunk per micro-batch, for file-stream replay
    * tests (one file == one batch under AvailableNow + maxFilesPerTrigger).
    *
    * Chunk files carry strictly increasing modification times:
    * FileStreamSource orders pending files by mod time, and files
    * written in the same clock tick would otherwise replay in arbitrary
    * order — order-sensitive consumers (e.g. `Streams.materializeCdc`,
    * which applies each batch as a CDC transport would deliver it) then
    * see deletes before their inserts. LSN-windowed replay (q19) is
    * order-insensitive and never noticed. */
  def materializeChunks(nChunks: Int, duplicateChunk: Option[Int] = None): String = {
    val dir = Files.createTempDirectory("graft_cdc_chunks")
    val per = math.max(1, jsonLines.size / nChunks)
    val chunks = jsonLines.grouped(per).toVector
    // Budget t0 from the ACTUAL chunk count at the 2000 ms stamp stride
    // (grouped() can emit more than nChunks chunks when `per` rounds
    // down), so even the last chunk's +1000 ms dup stamp lands strictly
    // in the past — FileStreamSource happens to tolerate future mod
    // times today, but replay order must not depend on that.
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val f = dir.resolve(f"chunk_$i%04d.jsonl")
      Files.write(f, chunk.mkString("\n").getBytes(StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + i * 2000L)
      if (duplicateChunk.contains(i)) {
        val fd = dir.resolve(f"chunk_${i}%04d_dup.jsonl")
        Files.write(fd, chunk.mkString("\n").getBytes(StandardCharsets.UTF_8))
        fd.toFile.setLastModified(t0 + i * 2000L + 1000L)
      }
    }
    dir.toString
  }

  /** `status`-table events for the MULTI-TABLE fixture — the other
    * relation the reference's `FOR ALL TABLES` publication ships
    * (`/root/reference/terraform/setup_database.sql:1-6`: status is
    * seeded with 'active'/'inactive' and never touched again by the
    * PoC; here it gets its own insert/update/delete churn so the demux
    * has something to prove). LSNs are ≡8 (mod 16) while students'
    * are ≡0, so the two relations' events interleave strictly and
    * never collide. Status ids overlap students ids ON PURPOSE — the
    * un-demuxed failure mode is exactly cross-table key merging. */
  final case class StEv(lsn: String, tag: String, id: Long, value: String)

  lazy val statusEvents: Vector[StEv] = Vector(
    StEv("0/00000018", "insert", 1L, "active"),
    StEv("0/00000028", "insert", 2L, "inactive"),
    StEv("0/00000038", "insert", 3L, "pending"),
    StEv("0/00000138", "update", 3L, "on-hold"),
    StEv("0/00000238", "delete", 3L, null),
    StEv("0/00000338", "insert", 4L, "archived"),
    StEv("0/00000438", "update", 1L, "enabled"),
    StEv("0/00000538", "insert", 5L, "draft"),
    StEv("0/00000638", "delete", 5L, null),
    StEv("0/00000738", "update", 2L, "disabled"))

  private def statusJsonLine(e: StEv): String = e.tag match {
    case "delete" =>
      s"""{"lsn": "${e.lsn}", "tag": "delete", "table": "status", "old": {"id": ${e.id}}}"""
    case t =>
      s"""{"lsn": "${e.lsn}", "tag": "$t", "table": "status", "new": {"id": ${e.id}, "value": "${e.value}"}}"""
  }

  /** Students + status events interleaved in LSN order (fixed-width
    * hex → lexicographic sort is LSN order), with the same control
    * noise — the single mixed stream a FOR ALL TABLES slot delivers. */
  lazy val multiTableJsonLines: Vector[String] = {
    val rows = (rowEvents.map(e => e.lsn -> jsonLine(e)) ++
      statusEvents.map(e => e.lsn -> statusJsonLine(e))).sortBy(_._1).map(_._2)
    val b = Vector.newBuilder[String]
    b += s"""{"lsn": "0/00000001", "tag": "begin"}"""
    b += s"""{"lsn": "0/00000002", "tag": "relation", "table": "students"}"""
    b += s"""{"lsn": "0/00000003", "tag": "relation", "table": "status"}"""
    var n = 0
    rows.foreach { line =>
      b += line
      n += 1
      if (n % 7 == 0) b += f"""{"lsn": "0/FFFF$n%04X", "tag": "commit"}"""
    }
    b += s"""{"lsn": "0/FFFFFFFF", "tag": "commit"}"""
    b.result()
  }

  /** Write the multi-table fixture as one file (idempotent), for batch
    * replay — the multi-table twin of [[materialize]]. Its OWN
    * directory: RunnerSpec streams each fixture's parent dir whole, and
    * its students-only case must not pick up the mixed file. */
  def materializeMultiTable(): String = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_cdc_fixture_multi")
    Files.createDirectories(dir)
    val f = dir.resolve("envelope_multitable.jsonl")
    val content = multiTableJsonLines.mkString("\n")
    if (!Files.exists(f) || !(new String(Files.readAllBytes(f), StandardCharsets.UTF_8) == content))
      Files.write(f, content.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  /** DuckDB VALUES rendering of the status-table events (q49 oracle). */
  def statusValuesSql: String =
    statusEvents.map { e =>
      if (e.tag == "delete") s"('${e.lsn}', 'delete', ${e.id}, NULL)"
      else s"('${e.lsn}', '${e.tag}', ${e.id}, '${e.value}')"
    }.mkString(",\n")

  /** Chunked multi-table stream for file-stream replay, mod-time
    * ordered like [[materializeChunks]]. */
  def materializeMultiTableChunks(nChunks: Int): String = {
    val dir = Files.createTempDirectory("graft_cdc_multi_chunks")
    val per = math.max(1, multiTableJsonLines.size / nChunks)
    val chunks = multiTableJsonLines.grouped(per).toVector
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val f = dir.resolve(f"chunk_$i%04d.jsonl")
      Files.write(f, chunk.mkString("\n").getBytes(StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + i * 2000L)
    }
    dir.toString
  }

  /** DuckDB VALUES rendering of the row events, for the Q19 oracle. */
  def valuesSql: String = {
    val rows = rowEvents.map { e =>
      if (e.tag == "delete")
        s"('${e.lsn}', 'delete', ${e.id}, NULL, NULL, NULL, NULL)"
      else
        s"('${e.lsn}', '${e.tag}', ${e.id}, '${e.firstName}', '${e.lastName}', DATE '${e.dateOfBirth}', ${e.statusId})"
    }
    rows.mkString(",\n")
  }
}
