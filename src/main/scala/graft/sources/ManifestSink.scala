package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{
  MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => rstream}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.{streaming => wstream}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 SINK with the full two-phase commit protocol — the S5/S6
  * write-side story (reference main.py:453-457 relies on Postgres
  * transactions; an object-store sink has no transactions, so
  * exactly-once visibility must come from the COMMIT PROTOCOL):
  *
  *  1. each task's DataWriter writes to `_temp/<file>` and reports the
  *     file in its WriterCommitMessage — nothing is visible yet;
  *  2. the driver's BatchWrite.commit publishes exactly the reported
  *     files by moving them into the root and appending ONE manifest
  *     file listing them — the atomic publication point;
  *  3. BatchWrite.abort deletes the temp area; a failed/speculative
  *     task attempt that never reached commit leaves at most a stray
  *     temp file, which readers never see because
  *  4. the read side lists MANIFESTS, not the directory: only
  *     committed files are scanned.
  *
  * Rows are tab-escaped text (schema stored as DDL next to the data)
  * for dependency-free round-tripping of the demo types; a production
  * deployment swaps the encoder and the local-file ops for the Hadoop
  * FileSystem API — the protocol is unchanged. ManifestSinkSpec
  * drives write → read-back, multi-append, stray-temp invisibility,
  * and schema round-trip.
  *
  * Usage:
  *   df.write.format("graft.sources.ManifestSink").option("path", p)
  *     .mode("append").save()
  *   spark.read.format("graft.sources.ManifestSink").option("path", p)
  *     .load()
  */
class ManifestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val schemaFile = new File(ManifestSink.root(options), ManifestSink.SchemaFile)
    if (schemaFile.exists())
      StructType.fromDDL(new String(
        Files.readAllBytes(schemaFile.toPath), StandardCharsets.UTF_8))
    else StructType(Nil) // first write defines it
  }
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ManifestTable(properties.get("path"), schema)
  override def supportsExternalMetadata(): Boolean = true
}

object ManifestSink {
  val SchemaFile = "_schema.ddl"
  private val ManifestPrefix = "_manifest-"
  private val ClaimPrefix = "_claim-"

  /** Name of the per-row file-identity metadata column. */
  val FileCol = "_file"

  /** The [[FileCol]] metadata-column descriptor (DSv2
    * SupportsMetadataColumns): string, non-null, never stored —
    * the reader synthesizes it from the partition's file name. */
  val FileMetadataColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = FileCol
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "committed data file (manifest-relative name) this row was read from"
  }

  def root(options: CaseInsensitiveStringMap): File = {
    val p = options.get("path")
    require(p != null, "ManifestSink requires option 'path'")
    new File(p)
  }

  // ---- tab-escaped row codec (supported types: long, int, double,
  // ---- boolean, string, timestamp-as-micros). CR is escaped too —
  // ---- an unescaped \r would split the row under Files.lines ----
  def encodeField(v: Any): String =
    if (v == null) "\\N"
    else {
      val s = v.toString
      if (s.indexOf('\\') < 0 && s.indexOf('\t') < 0 &&
          s.indexOf('\n') < 0 && s.indexOf('\r') < 0) s
      else s.replace("\\", "\\\\").replace("\t", "\\t")
        .replace("\n", "\\n").replace("\r", "\\r")
    }

  /** Single left-to-right unescape: a '\\' consumes the next char
    * BEFORE it can be re-interpreted. (The old sequential
    * `.replace("\\n", …).replace("\\\\", …)` chain corrupted strings
    * like `"C:\net"`: its encoding `C:\\net` matched the `\n` rule
    * first, decoding to backslash+LF.) */
  private[sources] def unescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n')
          case 't' => sb.append('\t')
          case 'r' => sb.append('\r')
          case '\\' => sb.append('\\')
          case other => sb.append(other) // codec never emits these; pass through
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Manifest names carry a STRICTLY MONOTONE zero-padded sequence
    * number — `_manifest-<seq>-<tag>` — claimed at commit time, so
    * ordering is a property of the name alone. (The old basis was
    * (mtime, name); with coarse filesystem mtime granularity a new
    * manifest could sort BEFORE an already-consumed streaming offset
    * index, skipping or re-reading a commit.)
    *
    * A compaction checkpoint (`tag = ckpt-<w>`) carries the logical
    * WEIGHT w = number of commits it absorbed; it supersedes every
    * manifest with seq ≤ its own, which keeps listings O(recent
    * commits) after thousands of epochs while offsets stay stable:
    * offset n still means "the first n logical commits". */
  private def seqOf(f: File): Int =
    f.getName.stripPrefix(ManifestPrefix).takeWhile(_.isDigit).toInt

  private def tagOf(f: File): String =
    f.getName.stripPrefix(ManifestPrefix).dropWhile(_.isDigit).stripPrefix("-")

  def weightOf(f: File): Int = {
    val t = tagOf(f)
    if (t.startsWith("ckpt-")) t.stripPrefix("ckpt-").toInt else 1
  }

  /** Visible manifests in commit order. A checkpoint hides everything
    * it absorbed (seq ≤ checkpoint seq), so a reader racing a
    * compaction sees either the originals or the checkpoint — never
    * both — and file lists / logical counts stay consistent. */
  def sortedManifests(root: File): Seq[File] = {
    val all = Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(ManifestPrefix)).toSeq
      .sortBy(f => (seqOf(f), f.getName))
    val ckpt = all.filter(f => tagOf(f).startsWith("ckpt-"))
    if (ckpt.isEmpty) all
    else {
      val top = ckpt.maxBy(f => (seqOf(f), weightOf(f)))
      top +: all.filter(f => seqOf(f) > seqOf(top))
    }
  }

  /** Total logical commit count (the streaming `latestOffset`). */
  def logicalCount(root: File): Int = sortedManifests(root).map(weightOf).sum

  /** Raised by [[manifestSlice]] for a range that splits a compacted
    * checkpoint — the one failure [[rewrite]] may report as a lost race. */
  private[sources] final class SplitCheckpointException(msg: String)
      extends IllegalArgumentException(msg)

  /** Manifests covering logical commit range [s, e). Compaction may
    * only be crossed at checkpoint boundaries: an offset strictly
    * inside a checkpoint's absorbed range is no longer individually
    * addressable (same contract as snapshot expiry in table formats). */
  def manifestSlice(root: File, s: Int, e: Int): Seq[File] = {
    var acc = 0
    val out = Seq.newBuilder[File]
    sortedManifests(root).foreach { m =>
      val lo = acc
      acc += weightOf(m)
      if (lo < e && acc > s) {
        if (lo < s || acc > e) throw new SplitCheckpointException(
          s"offset range [$s,$e) splits compacted checkpoint ${m.getName} " +
            s"covering logical commits [$lo,$acc) — compact only below the " +
            "slowest reader's committed offset")
        out += m
      }
    }
    out.result()
  }

  /** Atomically publish a manifest under the next free sequence
    * number: content goes to a temp file first, then an atomic rename
    * publishes `_manifest-<seq>-<tag>` — readers never see partial
    * content.
    *
    * ONE CLAIM PER SEQUENCE NUMBER: the slot is the seq itself, not
    * the full name. Before the rename the committer claims the seq
    * ([[claimSeq]]: a `_claim-<seq>` file created with CREATE_NEW,
    * which exactly one committer can create); a loser claims the NEXT
    * seq, so both commits land, ordered by their claims. (Arbitrating
    * on the tagged name let two commits with different tags — an
    * append and a `-ckpt-` checkpoint — share one seq, and the
    * checkpoint then hid the append.) The claim file is removed once
    * the manifest is published; a committer that dies in between
    * leaves a claim that only makes later committers skip that seq.
    * Two in-flight commits may become visible in the other order than
    * their seqs for the width of one rename; a reader listing inside
    * that window sees the higher seq first. Bounded retries:
    * exhausting them means something is claiming faster than the
    * filesystem can arbitrate. */
  def writeManifest(root: File, tag: String, files: Seq[String]): File = {
    val tmp = Files.createTempFile(root.toPath, "_inflight-", ".manifest")
    Files.write(tmp, files.mkString("\n").getBytes(StandardCharsets.UTF_8))
    var seq = sortedManifests(root).lastOption.map(seqOf(_) + 1).getOrElse(0)
    var attempts = 0
    while (attempts < 1000) {
      if (claimSeq(root, seq)) {
        try {
          beforeRenameHook(tag)
          val target = new File(root, f"$ManifestPrefix$seq%09d-$tag")
          Files.move(tmp, target.toPath, StandardCopyOption.ATOMIC_MOVE)
          return target
        } finally claimFile(root, seq).delete()
      }
      seq += 1
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not claim a manifest sequence slot in $root after 1000 attempts")
  }

  private def claimFile(root: File, seq: Int): File =
    new File(root, f"$ClaimPrefix$seq%09d")

  /** Claim `seq` for one commit. CREATE_NEW is the arbiter: exactly
    * one committer creates the claim file. The claim then stands only
    * if no manifest holds the seq yet — one published by a committer
    * that has already released its claim, or a compaction checkpoint,
    * which reuses the seq of the last manifest it absorbs. */
  private def claimSeq(root: File, seq: Int): Boolean = {
    val claim = claimFile(root, seq)
    try Files.createFile(claim.toPath)
    catch { case _: java.nio.file.FileAlreadyExistsException => return false }
    val taken = rawManifests(root).exists(f => seqOf(f) == seq)
    if (taken) claim.delete()
    !taken
  }

  /** Compact the current manifest list into ONE checkpoint manifest
    * (prefix union) carrying the absorbed logical weight, then drop
    * the superseded files. Listing cost goes from O(commits) to
    * O(commits since last compaction); `asOfManifest`/streaming
    * offsets at or beyond the checkpoint boundary are unchanged. */
  def compact(path: String): Unit = {
    val root = new File(path)
    val ms = sortedManifests(root)
    if (ms.size <= 1) return
    val union = entriesOf(ms)
    val w = ms.map(weightOf).sum
    val seq = seqOf(ms.last)
    val tmp = Files.createTempFile(root.toPath, "_inflight-", ".manifest")
    Files.write(tmp, union.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, new File(root, f"$ManifestPrefix$seq%09d-ckpt-$w").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    ms.foreach(_.delete()) // already hidden by the checkpoint
  }

  /** Write or WIDEN the stored schema — the add-column evolution every
    * long-lived table eventually needs. Contract: appended trailing
    * columns only; the narrower of (stored, incoming) must be a
    * field-for-field prefix (same names and types) of the wider. Data
    * files written under a narrower schema stay valid forever because
    * the READER pads missing trailing cells with null — no rewrite of
    * history, which is what makes evolution O(1) instead of O(table).
    * Renames/retypes/reorders are rejected loudly: silently mapping
    * old data into a repurposed column is how lakehouse tables get
    * corrupted. */
  def ensureSchema(root: File, schema: StructType): Unit = {
    // stored as all-nullable: any column may hold null once a narrower
    // writer or an evolution null-pad has existed — a NOT NULL marker
    // would make codegen read 0/false where the data says null
    val incoming = StructType(schema.fields.map(_.copy(nullable = true)))
    val f = new File(root, SchemaFile)
    // publication is temp-file + ATOMIC_MOVE like every other file in
    // this sink: an in-place truncating write would let a concurrent
    // reader's inferSchema observe an empty/partial DDL, and two
    // concurrent widening writers could interleave bytes
    def publishDdl(ddl: String): Unit = {
      val tmp = Files.createTempFile(root.toPath, "_inflight-", ".ddl")
      Files.write(tmp, ddl.getBytes(StandardCharsets.UTF_8))
      // POSIX rename replaces an existing target atomically
      Files.move(tmp, f.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    if (!f.exists()) {
      publishDdl(incoming.toDDL)
      return
    }
    val stored = StructType.fromDDL(
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
    def isPrefix(a: StructType, b: StructType): Boolean =
      a.fields.length <= b.fields.length &&
        a.fields.zip(b.fields).forall { case (x, y) =>
          x.name == y.name && x.dataType == y.dataType
        }
    if (isPrefix(stored, incoming) && stored.fields.length < incoming.fields.length)
      publishDdl(incoming.toDDL)
    else if (isPrefix(stored, incoming) || isPrefix(incoming, stored))
      () // identical, or a narrower (pre-evolution) writer: reader pads
    else throw new IllegalArgumentException(
      s"incompatible schema evolution for $root: stored <${stored.toDDL}> vs " +
        s"incoming <${incoming.toDDL}> — only appended trailing columns are supported")
  }

  /** Test seam: runs between a COW rewrite and its swap publication,
    * so specs can interleave a concurrent commit deterministically. */
  private[graft] var beforeSwapHook: () => Unit = () => ()

  /** Test seam: runs inside [[writeManifest]] after the sequence slot
    * is chosen and claimed but BEFORE the rename publishes the
    * manifest; receives the commit's tag. A commit landing here must
    * take a different seq. */
  private[graft] var beforeRenameHook: String => Unit = _ => ()

  /** Test seam: runs AFTER the optimistic pre-check but BEFORE the
    * checkpoint claims its slot — the residual window the post-claim
    * validation exists for. */
  private[graft] var beforeClaimHook: () => Unit = () => ()

  /** Test seam: runs AFTER the checkpoint claimed its slot but BEFORE
    * the post-claim validation — a commit landing here claims a HIGHER
    * seq than the checkpoint, stays visible, and must NOT be treated
    * as a conflict. */
  private[graft] var afterClaimHook: () => Unit = () => ()

  /** Every manifest file on disk, unordered and WITHOUT checkpoint
    * hiding — the raw conflict-detection view publishCowSwap needs
    * (sortedManifests would hide a concurrent commit whose seq landed
    * below a just-written checkpoint, which is exactly the commit the
    * conflict check must see). */
  private def rawManifests(root: File): Seq[File] =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(ManifestPrefix)).toSeq

  /** Publish a copy-on-write swap under OPTIMISTIC CONCURRENCY: the
    * swap is valid only against the exact manifest history the rewrite
    * READ. If any commit landed in between, the survivor set is stale
    * — publishing it would silently DROP the concurrent commit's rows
    * — so the adopted files are removed and a
    * ConcurrentModificationException surfaces for the caller to retry
    * against the new history (the Iceberg/Delta commit-conflict
    * contract).
    *
    * Claim-then-validate closes the pre-check's residual window: a
    * commit can still land BETWEEN the optimistic pre-check and the
    * checkpoint's rename, claim a lower sequence slot than the
    * checkpoint, and be silently hidden by it. So after claiming the
    * slot we re-list the RAW manifests (no checkpoint hiding): if
    * anything beyond `expected` + our checkpoint exists, the
    * checkpoint is rolled back (deleted along with the adopted files)
    * and the conflict surfaces. A commit landing after our rename
    * claims a HIGHER seq than the checkpoint and stays visible, so the
    * validation only inspects seqs AT OR BELOW the checkpoint's —
    * exactly the range it hides — and a post-claim commit is never a
    * spurious conflict. A commit racing the checkpoint's own claim
    * cannot share its seq ([[writeManifest]] claims the seq itself).
    *
    * Two tolerated artifacts of crashes/races, both bounded:
    *  - CRASH RESIDUE: a previous writer that died between publishing
    *    a checkpoint and deleting the files it absorbed (here, or in
    *    [[compact]]) leaves manifests that every sortedManifests view
    *    already hides. They sit at seq ≤ expected's own top
    *    checkpoint — a live commit can never claim a slot there, so
    *    they are unambiguously garbage and are collected here rather
    *    than counted as conflicts (which would wedge every future COW
    *    operation on the table).
    *  - TRANSIENT READER ANOMALY: between the checkpoint rename and a
    *    conflict rollback's `ckpt.delete()`, a racing reader can list
    *    the never-committed swap state (a dirty read of the rewrite).
    *    The window is one validation listing wide; readers needing
    *    strict isolation follow the same contract as vacuum — don't
    *    race an in-flight OPTIMIZE/DELETE, or re-read. */
  def publishCowSwap(root: File, expected: Seq[File], adopted: Seq[String],
      freshOnAbort: Option[Seq[String]] = None): Unit = {
    beforeSwapHook()
    // a PARTIAL rewrite (file-granular DELETE) adopts untouched
    // pre-existing files alongside its new COW files — on conflict
    // only the new ones may be deleted, or the rollback would destroy
    // committed data the surviving history still references
    val removable = freshOnAbort.getOrElse(adopted)
    def abort(found: Int): Nothing = {
      removable.foreach(f => new File(root, nameOf(f)).delete())
      throw new java.util.ConcurrentModificationException(
        s"table $root changed during the copy-on-write rewrite " +
          s"(expected ${expected.size} manifests, found $found) — retry the operation")
    }
    val now = sortedManifests(root)
    if (now.map(_.getName) != expected.map(_.getName)) abort(now.size)
    beforeClaimHook()
    val w = expected.map(weightOf).sum + 1
    val ckpt = writeManifest(root, s"ckpt-$w", adopted)
    afterClaimHook()
    val expectedNames = expected.map(_.getName).toSet
    // seq at/below expected's top checkpoint: a file there that is not
    // part of expected can only be crash residue (writeManifest always
    // claims slots above the visible history) — GC it, don't conflict
    val residueCutoff = expected.filter(f => tagOf(f).startsWith("ckpt-"))
      .map(seqOf).maxOption.getOrElse(-1)
    val raw = rawManifests(root).filter(_.getName != ckpt.getName)
    val (residue, current) = raw.partition(f =>
      !expectedNames(f.getName) && seqOf(f) <= residueCutoff)
    residue.foreach(_.delete())
    // our checkpoint hides every seq <= its own; that range must be
    // precisely the history the rewrite read (its own seq included:
    // the claim keeps other commits off it, and anything found there
    // would be hidden). Higher seqs are commits that landed after the
    // claim — still visible, not conflicts.
    val hidden = current.filter(f => seqOf(f) <= seqOf(ckpt))
    if (hidden.map(_.getName).sorted != expected.map(_.getName).sorted) {
      ckpt.delete() // roll back the claim — the hidden commit wins
      abort(hidden.size)
    }
    expected.foreach(_.delete())
  }

  def filesOf(manifests: Seq[File]): Seq[String] =
    entriesOf(manifests).map(nameOf)

  /** Full manifest ENTRIES — file name plus the optional column-stats
    * cells — de-duplicated by file name (first occurrence wins). A
    * listed manifest that is gone by the time it is read was absorbed
    * by a concurrent copy-on-write swap (which deletes what its
    * checkpoint hides): the listing is stale, so this raises the same
    * ConcurrentModificationException as any other lost race, and the
    * caller re-reads or retries against the new history. */
  def entriesOf(manifests: Seq[File]): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashMap[String, String]()
    def read(m: File): String =
      try new String(Files.readAllBytes(m.toPath), StandardCharsets.UTF_8)
      catch {
        case e: java.nio.file.NoSuchFileException =>
          val cme = new java.util.ConcurrentModificationException(
            s"manifest ${m.getName} of ${m.getParent} was absorbed by a concurrent " +
              "rewrite while being read — retry against the new history")
          cme.initCause(e)
          throw cme
      }
    manifests.flatMap(m => read(m).split("\n"))
      .filter(_.nonEmpty)
      .foreach(l => seen.getOrElseUpdate(nameOf(l), l))
    seen.values.toSeq
  }

  /** The file-name field of a manifest entry (stats cells follow
    * after tabs; generated file names never contain one). */
  def nameOf(entry: String): String = {
    val i = entry.indexOf('\t')
    if (i < 0) entry else entry.substring(0, i)
  }

  /** Entry = name + `#<rowcount>` + (fieldIdx, min, max) TRIPLETS for
    * the numeric columns the writer tracked — the file-skipping and
    * aggregate-pushdown statistics. The `#` cell doubles as the
    * stats-aware marker: its presence distinguishes "this column had
    * only nulls in this file" (entry is stats-aware, triplet absent)
    * from "this entry predates statistics" (no `#` — never skipped,
    * never aggregated from metadata). A name-only line (every
    * pre-stats commit) parses to no stats. */
  def statsEntry(name: String, rows: Long,
      stats: Seq[(Int, String, String)]): String =
    (Seq(name, s"#$rows") ++
      stats.flatMap { case (i, mn, mx) => Seq(i.toString, mn, mx) })
      .mkString("\t")

  private def statCells(entry: String): Seq[String] =
    entry.split("\t", -1).drop(1).toSeq

  /** The entry's exact row count, when stats-aware. */
  def rowsOfEntry(entry: String): Option[Long] =
    statCells(entry).headOption.filter(_.startsWith("#"))
      .flatMap(c => c.drop(1).toLongOption)

  def statsOfEntry(entry: String): Seq[(Int, String, String)] = {
    val cells0 = statCells(entry)
    val cells = if (cells0.headOption.exists(_.startsWith("#"))) cells0.drop(1)
      else cells0
    if (cells.isEmpty || cells.length % 3 != 0) Seq.empty
    else cells.grouped(3).flatMap {
      case Seq(i, mn, mx) => i.toIntOption.map(ix => (ix, mn, mx))
      case _ => None
    }.toSeq
  }

  /** Move a scratch COW table's data files into `root` under
    * collision-free names, PRESERVING each entry's stats cells —
    * returns the adopted ENTRIES. Shared by DELETE / OPTIMIZE /
    * upsert, so no copy-on-write path silently drops statistics. */
  def adoptInto(root: File, tmpDir: File, prefix: String): Seq[String] = {
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    entriesOf(sortedManifests(tmpDir)).zipWithIndex.map { case (e, i) =>
      val f = nameOf(e)
      val target = s"$prefix-$stamp-$i-$f"
      val dst = new File(root, target)
      Files.move(new File(tmpDir, f).toPath, dst.toPath,
        StandardCopyOption.ATOMIC_MOVE)
      dst.setLastModified(System.currentTimeMillis()) // publish-time retention
      target + e.substring(f.length) // rename; stats/rowcount cells verbatim
    }
  }

  /** The one commit publish under the batch and streaming writes
    * (driver-side, after every task succeeded): move exactly the files
    * the committed task attempts reported from `tempDir` into `root`,
    * then append one manifest tagged `tag` naming them. Readers list
    * manifests, so a crash before this point publishes nothing and a
    * crash after it publishes everything — no torn state. */
  private[sources] def publishCommit(root: File, tempDir: File, tag: String,
      schema: StructType, messages: Array[WriterCommitMessage]): Unit = {
    root.mkdirs()
    val files = messages.collect {
      case m: ManifestCommitMessage if m.rows > 0 =>
        val target = new File(root, m.file)
        Files.move(new File(tempDir, m.file).toPath,
          target.toPath, StandardCopyOption.ATOMIC_MOVE)
        // vacuum's grace window is keyed on PUBLISH time; ATOMIC_MOVE
        // preserves the task-write mtime, which for a straggler task
        // may predate the grace period and let a concurrent vacuum
        // reclaim the file in the pre-manifest window
        target.setLastModified(System.currentTimeMillis())
        statsEntry(m.file, m.rows, m.stats)
    }
    ensureSchema(root, schema)
    writeManifest(root, tag, files.toSeq)
  }

  /** Remove one write's `_temp/<write id>` subdirectory — zero-row task
    * files and a replayed epoch's duplicates included. Scoped to that
    * write: the shared `_temp` root may hold another write's in-flight
    * files, so `_temp` itself goes only when empty. */
  private[sources] def cleanupTemp(tempDir: File): Unit = {
    Option(tempDir.listFiles()).foreach(_.foreach(_.delete()))
    tempDir.delete()
    tempDir.getParentFile.delete() // only succeeds when _temp is empty
  }

  /** The one copy-on-write rewrite under DELETE, OPTIMIZE and upsert.
    * `plan` gets the table as of the snapshot `before` lists — so the
    * rows it rewrites are exactly the history the swap validates — and
    * returns the rows to write plus the committed entries that survive
    * untouched (a partial DELETE's unhit files), or None when there is
    * nothing to rewrite. The rows go to a scratch manifest table, whose
    * files are adopted into the table under `prefix`, and
    * `kept ++ adopted` publishes as one checkpoint over `before`
    * ([[publishCowSwap]]'s optimistic swap; on conflict only the
    * adopted files are rolled back). The scratch table is removed
    * either way.
    *
    * A concurrent swap that absorbs part of `before` into its own
    * checkpoint leaves the pinned read unable to address that history
    * ([[manifestSlice]] refuses to split a checkpoint): that is the lost
    * race the swap's validation reports, so it raises the same
    * retryable ConcurrentModificationException. Any other failure of
    * `plan` or of the scratch write propagates unchanged. */
  private[sources] def rewrite(spark: org.apache.spark.sql.SparkSession, path: String,
      before: Seq[File], prefix: String)(plan: org.apache.spark.sql.DataFrame =>
        Option[(org.apache.spark.sql.DataFrame, Seq[String])]): Unit = {
    val root = new File(path)
    def pinned[T](body: => T): T = try body catch {
      case e: SplitCheckpointException
          if sortedManifests(root).map(_.getName) != before.map(_.getName) =>
        val cme = new java.util.ConcurrentModificationException(
          s"table $root changed while the copy-on-write rewrite read it — retry the operation")
        cme.initCause(e)
        throw cme
    }
    val snapshot = spark.read.format("graft.sources.ManifestSink")
      .option("path", path)
      .option("asOfManifest", before.map(weightOf).sum)
      .load()
    pinned(plan(snapshot)).foreach { case (rows, kept) =>
      val tmpDir = Files.createTempDirectory(s"graft_$prefix").toFile
      def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      try {
        pinned(rows.write.format("graft.sources.ManifestSink")
          .option("path", tmpDir.getAbsolutePath).mode("append").save())
        val fresh = adoptInto(root, tmpDir, prefix)
        publishCowSwap(root, before, kept ++ fresh, freshOnAbort = Some(fresh))
      } finally rm(tmpDir)
    }
  }

  def decodeField(s: String, dt: DataType): Any =
    if (s == "\\N") null
    else {
      val raw = unescape(s)
      dt match {
        case LongType | TimestampType => raw.toLong
        case IntegerType => raw.toInt
        case DoubleType => raw.toDouble
        case BooleanType => raw.toBoolean
        case StringType => UTF8String.fromString(raw)
        case other => throw new IllegalArgumentException(s"unsupported type $other")
      }
    }
}

class ManifestTable(path: String, external: StructType,
    pinnedAsOf: Option[Int] = None)
    extends Table with SupportsWrite with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with SupportsMetadataColumns {
  require(path != null, "ManifestSink requires option 'path'")

  /** `_file` — the committed data file this row was read from (the
    * manifest-relative name), the handle file-granular maintenance
    * keys on: DELETE rewrites only files that HOLD matching rows
    * ([[ManifestDelete]]), and a caller can group/audit by physical
    * file (`df.metadataColumn("_file")`). Served by the scan when
    * requested through column pruning; never stored in rows. */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(ManifestSink.FileMetadataColumn)

  /** Storage location — lets catalog-resolved commands (GRAFT MERGE
    * INTO <ident>) route to the path-based maintenance machinery. */
  private[graft] def tablePath: String = path

  override def name(): String =
    s"manifest_sink($path${pinnedAsOf.fold("")(v => s"@v$v")})"

  /** `DELETE FROM t WHERE p` — copy-on-write: rewrite the surviving
    * rows with a DISTRIBUTED filter scan (not a driver loop), then
    * atomically swap the whole manifest history for ONE checkpoint
    * naming only the survivor files. Readers racing the swap see
    * either the old manifests or the checkpoint — never both (the
    * compaction visibility rule) — and the delete registers as one
    * more logical commit, so `VERSION AS OF <new count>` is the
    * post-delete snapshot. Pre-delete versions stop being
    * individually addressable — the same snapshot-expiry contract as
    * compaction, documented there. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => ManifestDelete.toColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    ManifestDelete.run(path, filters)

  /** `TRUNCATE TABLE t` — the delete-all special case: no survivor
    * rewrite needed, just the atomic checkpoint swap to an empty file
    * list (still one logical commit, so versions stay monotone). */
  override def truncateTable(): Boolean = {
    val root = new File(path)
    val before = ManifestSink.sortedManifests(root)
    if (before.nonEmpty) ManifestSink.publishCowSwap(root, before, Seq.empty)
    true
  }

  override def schema(): StructType =
    if (external.nonEmpty) external
    else {
      val f = new File(path, ManifestSink.SchemaFile)
      if (f.exists())
        StructType.fromDDL(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      else StructType(Nil)
    }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ManifestWriteBuilder(path, info)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // a version pinned by SQL `VERSION AS OF` (catalog loadTable) wins
    // over the per-read asOfManifest option
    new ManifestScanBuilder(path, schema(),
      pinnedAsOf.orElse(Option(options.get("asOfManifest")).map(_.toInt)),
      Option(options.get("maxManifestsPerTrigger")).map(_.toInt))
}

// --------------------------------------------------------------- write

class ManifestWriteBuilder(path: String, info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new ManifestBatchWrite(path, info.queryId(), info.schema())
    override def toStreaming: wstream.StreamingWrite =
      new ManifestStreamingWrite(path, info.queryId(), info.schema())
  }
}

/** Streaming flavor: one manifest per (queryId, epoch). Exactly-once
  * across restarts comes from IDEMPOTENT epoch commit — after a crash
  * between sink commit and checkpoint advance, Structured Streaming
  * re-runs the epoch and commits it AGAIN; if the epoch's manifest
  * already exists the duplicate commit publishes nothing and the
  * re-written temp files are discarded. */
class ManifestStreamingWrite(path: String, queryId: String, schema: StructType)
    extends wstream.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): wstream.StreamingDataWriterFactory =
    new ManifestStreamingWriterFactory(path, queryId, schema)

  private def epochTag(epochId: Long) = s"$queryId-epoch-$epochId"
  private def writeId(epochId: Long) = s"$queryId-e$epochId"

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val root = new File(path)
    val tempDir = new File(root, s"_temp/${writeId(epochId)}")
    val replayed = ManifestSink.sortedManifests(root)
      .exists(_.getName.endsWith(s"-${epochTag(epochId)}"))
    // replayed epoch: publish nothing, drop the duplicate temp files.
    // Either way the epoch's temp dir goes away.
    if (!replayed) ManifestSink.publishCommit(root, tempDir, epochTag(epochId), schema, messages)
    ManifestSink.cleanupTemp(tempDir)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.cleanupTemp(new File(path, s"_temp/${writeId(epochId)}"))
}

class ManifestStreamingWriterFactory(path: String, queryId: String, schema: StructType)
    extends wstream.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ManifestWriterFactory(path, s"$queryId-e$epochId", schema)
      .createWriter(partitionId, taskId) // temp scope: _temp/<queryId>-e<epochId>/
}

class ManifestBatchWrite(path: String, queryId: String, schema: StructType)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestWriterFactory(path, queryId, schema)

  private def tempDir = new File(path, s"_temp/$queryId")

  /** The atomic publication point ([[ManifestSink.publishCommit]]). */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    ManifestSink.publishCommit(new File(path), tempDir, queryId, schema, messages)
    ManifestSink.cleanupTemp(tempDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.cleanupTemp(tempDir)
}

case class ManifestCommitMessage(file: String, rows: Long,
    stats: Seq[(Int, String, String)] = Nil) extends WriterCommitMessage

class ManifestWriterFactory(path: String, queryId: String, schema: StructType)
    extends DataWriterFactory {

  /** taskId is unique per attempt — speculative/retried attempts write
    * distinct temp files and only the attempt whose commit message
    * reaches the driver gets published. */
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fileName = f"part-$queryId-$partitionId%05d-$taskId.tsv"
      private val tmp = new File(new File(path, s"_temp/$queryId"), fileName)
      tmp.getParentFile.mkdirs()
      private val out = Files.newBufferedWriter(tmp.toPath, StandardCharsets.UTF_8)
      private var rows = 0L
      private val types = schema.fields.map(_.dataType)
      // per-column min/max over NON-NULL cells of the numeric columns
      // (the file-skipping statistics; see ManifestStats)
      private val statIdx = types.indices.filter(i => ManifestStats.eligible(types(i)))
      private val mins = Array.fill[Option[Double]](types.length)(None)
      private val maxs = Array.fill[Option[Double]](types.length)(None)
      private val minsL = Array.fill[Option[Long]](types.length)(None)
      private val maxsL = Array.fill[Option[Long]](types.length)(None)
      // string bounds compared in UTF8String BINARY order — the order
      // Spark's own string comparisons use, so read-side refutation
      // against a filter value agrees with what the rows would do
      private val minsS = Array.fill[Option[UTF8String]](types.length)(None)
      private val maxsS = Array.fill[Option[UTF8String]](types.length)(None)

      private def updStats(row: InternalRow): Unit = statIdx.foreach { i =>
        if (!row.isNullAt(i)) types(i) match {
          case DoubleType =>
            val v = row.getDouble(i)
            if (!v.isNaN) {
              if (mins(i).forall(v < _)) mins(i) = Some(v)
              if (maxs(i).forall(v > _)) maxs(i) = Some(v)
            }
          case IntegerType =>
            val v = row.getInt(i).toLong
            if (minsL(i).forall(v < _)) minsL(i) = Some(v)
            if (maxsL(i).forall(v > _)) maxsL(i) = Some(v)
          case StringType =>
            val v = row.getUTF8String(i)
            // clone only on a new extreme — the row's buffer is reused
            if (minsS(i).forall(v.compareTo(_) < 0)) minsS(i) = Some(v.clone())
            if (maxsS(i).forall(v.compareTo(_) > 0)) maxsS(i) = Some(v.clone())
          case _ => // LongType | TimestampType (micros)
            val v = row.getLong(i)
            if (minsL(i).forall(v < _)) minsL(i) = Some(v)
            if (maxsL(i).forall(v > _)) maxsL(i) = Some(v)
        }
      }

      override def write(row: InternalRow): Unit = {
        val cells = types.indices.map { i =>
          ManifestSink.encodeField(
            if (row.isNullAt(i)) null else row.get(i, types(i)))
        }
        out.write(cells.mkString("\t"))
        out.write("\n")
        updStats(row)
        rows += 1
      }
      override def commit(): WriterCommitMessage = {
        out.close()
        val stats = statIdx.flatMap { i =>
          (minsL(i), maxsL(i)) match {
            case (Some(a), Some(b)) => Some((i, a.toString, b.toString))
            case _ => (mins(i), maxs(i)) match {
              case (Some(a), Some(b)) => Some((i, a.toString, b.toString))
              case _ => (minsS(i), maxsS(i)) match {
                case (Some(a), Some(b)) =>
                  // truncation-safe bounds (the Iceberg truncate rule):
                  // lower = prefix of min (a prefix is <= the full
                  // string in binary order); upper = max itself when
                  // short, else an INCREMENTED prefix strictly above
                  // every string sharing it. No safe upper -> no
                  // triplet (bounds must be sound or absent).
                  ManifestStats.upperBound(b.toString).map(up =>
                    (i, ManifestSink.encodeField(
                        ManifestStats.lowerBound(a.toString)),
                      ManifestSink.encodeField(up)))
                case _ => None
              }
            }
          }
        }
        ManifestCommitMessage(fileName, rows, stats.toSeq)
      }
      override def abort(): Unit = { out.close(); tmp.delete() }
      override def close(): Unit = ()
    }
}

// ---------------------------------------------------------------- read

/** Implements required-column pruning (DSv2
  * SupportsPushDownRequiredColumns): the reader then decodes ONLY the
  * requested cells of each row — a 2-column projection over a wide
  * table stops paying for the other columns — and pruning is also the
  * channel through which a requested [[ManifestSink.FileCol]] metadata
  * column reaches the scan (Spark appends it to the pruned schema). */
class ManifestScanBuilder(path: String, schema: StructType, asOf: Option[Int],
    maxPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  private var required: StructType = schema
  private var skip: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[Any])] = None
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** METADATA-ONLY aggregation (DSv2 complete aggregate pushdown):
    * ungrouped COUNT(*)/MIN/MAX answered from the manifest's exact
    * per-file row counts and column min/max — no data file is opened.
    * Spark only attempts aggregate pushdown when no post-scan filter
    * remains, and this scan keeps EVERY filter as a residual, so the
    * pushdown can only fire on unfiltered aggregates — exactly the
    * shape the stats answer exactly. Declined (scan falls back to
    * reading rows) unless every visible entry is stats-aware: a
    * pre-stats commit makes counts unknowable from metadata. MIN/MAX
    * skip entries without the column's triplet — those files hold
    * only nulls there, which SQL MIN/MAX ignore. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = answerFromStats(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggResult = answerFromStats(agg)
    aggResult.isDefined
  }

  private def answerFromStats(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.{aggregate => va}
    if (agg.groupByExpressions.nonEmpty) return None
    val root = new File(path)
    val visible = asOf.fold(ManifestSink.sortedManifests(root))(n =>
      ManifestSink.manifestSlice(root, 0, n))
    val entries = ManifestSink.entriesOf(visible)
    val rowCounts = entries.map(ManifestSink.rowsOfEntry)
    if (rowCounts.exists(_.isEmpty)) return None // pre-stats commit present
    val statsPer = entries.map(ManifestSink.statsOfEntry)

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(Int, DataType)] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        val i = schema.fieldNames.indexOf(nr.fieldNames()(0))
        if (i < 0) None else Some((i, schema.fields(i).dataType))
      case _ => None
    }
    def parsed(i: Int, dt: DataType, pick: Seq[BigDecimal] => BigDecimal,
        side: Int): Option[Any] = {
      val vals = statsPer.flatMap(_.collectFirst {
        case (`i`, mn, mx) => scala.util.Try(
          BigDecimal(if (side == 0) mn else mx)).toOption
      }.flatten)
      if (vals.isEmpty) Some(null) // every file all-null there -> SQL null
      else dt match {
        case LongType | TimestampType => Some(Long.box(pick(vals).toLongExact))
        case IntegerType => Some(Int.box(pick(vals).toIntExact))
        case DoubleType => Some(Double.box(pick(vals).toDouble))
        case _ => None
      }
    }
    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Any]
    agg.aggregateExpressions.foreach {
      case _: va.CountStar =>
        fields += StructField("count_star", LongType, nullable = false)
        values += Long.box(rowCounts.flatten.sum)
      case m: va.Min =>
        colOf(m.column) match {
          case Some((i, dt)) if ManifestStats.exactBounds(dt) =>
            parsed(i, dt, _.min, 0) match {
              case Some(v) => fields += StructField(s"min_$i", dt); values += v
              case None => return None
            }
          case _ => return None
        }
      case m: va.Max =>
        colOf(m.column) match {
          case Some((i, dt)) if ManifestStats.exactBounds(dt) =>
            parsed(i, dt, _.max, 1) match {
              case Some(v) => fields += StructField(s"max_$i", dt); values += v
              case None => return None
            }
          case _ => return None
        }
      case _ => return None
    }
    Some((StructType(fields.result()), values.result()))
  }

  /** FILE SKIPPING, not row filtering: filters refutable against the
    * per-file min/max stats ([[ManifestStats]]) prune whole committed
    * files from the scan; EVERY filter is also returned as a residual
    * so Spark still applies it row-by-row — skipping is purely an
    * optimization and can never change results. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    skip = filters.filter(ManifestStats.skippable(schema, _))
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = skip
  override def build(): Scan = aggResult match {
    case Some((aggSchema, row)) => new ManifestAggScan(aggSchema, row)
    case None => new ManifestScan(path, schema, required, skip, asOf, maxPerTrigger)
  }
}

/** The one-row result of a completely-pushed-down aggregate — emitted
  * without opening any data file. */
class ManifestAggScan(aggSchema: StructType, values: Seq[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean = { val r = !done; done = true; r }
          override def get(): InternalRow = new GenericInternalRow(
            p.asInstanceOf[ManifestAggPartition].values.toArray)
          override def close(): Unit = ()
        }
    }
}

case class ManifestAggPartition(values: Seq[Any]) extends InputPartition

class ManifestScan(path: String, schema: StructType, required: StructType,
    skipFilters: Array[org.apache.spark.sql.sources.Filter],
    asOf: Option[Int], maxPerTrigger: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** ACCURATE table statistics from the manifest (post-skipping):
    * numRows from the per-entry rowcounts when every surviving entry
    * is stats-aware, sizeInBytes from the surviving files' actual
    * lengths. Catalyst then auto-broadcasts joins against small
    * stored tables instead of defaulting them to "huge" (DSv2 scans
    * without statistics report spark.sql.defaultSizeInBytes and never
    * broadcast without a hint). */
  override def estimateStatistics(): Statistics = {
    val root = new File(path)
    val entries = survivingEntries(root)
    val rows = entries.map(ManifestSink.rowsOfEntry)
    val bytes = entries.map(e =>
      new File(root, ManifestSink.nameOf(e)).length()).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        if (rows.exists(_.isEmpty)) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(rows.flatten.sum)
    }
  }

  private def survivingEntries(root: File): Seq[String] = {
    val visible = asOf.fold(ManifestSink.sortedManifests(root))(n =>
      ManifestSink.manifestSlice(root, 0, n))
    ManifestSink.entriesOf(visible)
      .filter(e => !ManifestStats.refutedBy(
        skipFilters.toIndexedSeq, ManifestSink.statsOfEntry(e), schema))
  }

  /** Only manifest-listed files — a stray temp or unpublished file is
    * invisible by construction. One input partition per committed
    * file (each file was one task's output: natural parallelism).
    * `asOfManifest = n` time-travels to the first n commits: every
    * commit is a retained snapshot boundary. */
  override def planInputPartitions(): Array[InputPartition] = {
    val root = new File(path)
    survivingEntries(root)
      .map(e => ManifestFilePartition(
        new File(root, ManifestSink.nameOf(e)).getPath): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(schema, required)

  /** Streaming read: the manifest sequence IS the offset log — offset
    * n = "the first n committed manifests". Each micro-batch reads
    * exactly the manifests that appeared since the last one; commits
    * are atomic, so a batch never sees a torn write. */
  override def toMicroBatchStream(checkpointLocation: String): rstream.MicroBatchStream =
    new ManifestMicroBatchStream(path, schema, maxPerTrigger)
}

case class ManifestOffset(n: Int) extends rstream.Offset {
  override def json(): String = n.toString
}

/** `maxManifestsPerTrigger` bounds how many commits a micro-batch
  * ingests (admission control): a reader catching up on a long commit
  * backlog — or starting fresh against years of epochs — processes the
  * log in bounded, checkpointable steps instead of one giant batch. */
class ManifestMicroBatchStream(path: String, schema: StructType,
    maxPerTrigger: Option[Int] = None)
    extends rstream.MicroBatchStream with rstream.SupportsAdmissionControl {
  private val root = new File(path)

  override def initialOffset(): rstream.Offset = ManifestOffset(0)
  override def latestOffset(): rstream.Offset =
    ManifestOffset(ManifestSink.logicalCount(root)) // weight-aware: stable across compaction
  override def deserializeOffset(json: String): rstream.Offset =
    ManifestOffset(json.toInt)

  override def getDefaultReadLimit: rstream.ReadLimit =
    maxPerTrigger.map(n => rstream.ReadLimit.maxRows(n.toLong))
      .getOrElse(rstream.ReadLimit.allAvailable())

  override def latestOffset(start: rstream.Offset, limit: rstream.ReadLimit): rstream.Offset = {
    val s = start.asInstanceOf[ManifestOffset].n
    val total = ManifestSink.logicalCount(root)
    limit match {
      case r: rstream.ReadMaxRows => ManifestOffset(math.min(total, s + r.maxRows().toInt))
      case _ => ManifestOffset(total)
    }
  }

  override def planInputPartitions(
      start: rstream.Offset, end: rstream.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ManifestOffset].n
    val e = end.asInstanceOf[ManifestOffset].n
    val slice = ManifestSink.manifestSlice(root, s, e)
    ManifestSink.filesOf(slice)
      .map(f => ManifestFilePartition(new File(root, f).getPath): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(schema)

  override def commit(end: rstream.Offset): Unit = ()
  override def stop(): Unit = ()
}

case class ManifestFilePartition(file: String) extends InputPartition

/** Emits only the REQUIRED fields: each is resolved once to either
  * its cell index in the stored (full) schema or, for
  * [[ManifestSink.FileCol]], the partition's file name synthesized
  * per-split (constant across its rows — never decoded, never
  * stored). Evolution null-padding keys off the FULL schema index, so
  * pruning composes with narrower-written rows unchanged. */
class ManifestReaderFactory(schema: StructType,
    required: StructType) extends PartitionReaderFactory {
  def this(schema: StructType) = this(schema, schema)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[ManifestFilePartition].file
    // (full-schema cell index | -1 for _file, decode type) per output
    val fields: Array[(Int, DataType)] = required.fields.map { f =>
      if (f.name == ManifestSink.FileCol) (-1, StringType: DataType)
      else {
        val i = schema.fieldIndex(f.name)
        (i, schema.fields(i).dataType)
      }
    }
    val fileName = UTF8String.fromString(new File(file).getName)
    new PartitionReader[InternalRow] {
      private val lines = Files.lines(Paths.get(file))
      private val it = lines.iterator()
      private var current: InternalRow = _

      override def next(): Boolean = {
        if (!it.hasNext) return false
        val cells = it.next().split("\t", -1)
        // rows written under a NARROWER (pre-evolution) schema pad
        // their missing trailing columns with null — see ensureSchema
        current = new GenericInternalRow(
          fields.map { case (i, dt) =>
            if (i < 0) fileName
            else if (i < cells.length) ManifestSink.decodeField(cells(i), dt)
            else null
          }.toArray[Any])
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = lines.close()
    }
  }
}

// ---------------------------------------------------------------- stats

/** Per-file column statistics for FILE SKIPPING — the manifest-level
  * min/max pruning every table format ships (Delta file stats,
  * Iceberg manifest column bounds, parquet footer pushdown): the
  * writer records min/max of each NUMERIC column per data file
  * (strings are excluded — a truncation-safe upper bound is not worth
  * the complexity at this row codec), the manifest entry carries the
  * triplets, and the scan drops any committed file whose stats PROVE
  * the pushed conjunction cannot hold on any of its rows. Soundness
  * with nulls: min/max cover exactly the NON-NULL cells, and the
  * supported atomic predicates are never TRUE on a null cell, so a
  * file refuted on its non-null range cannot hide a matching row.
  * Missing or malformed stats never refute (pre-stats commits keep
  * scanning everywhere). */
object ManifestStats {
  import org.apache.spark.sql.{sources => v1}

  /** Columns the WRITER tracks (timestamp micros recorded; string
    * bounds truncation-safe — see [[lowerBound]]/[[upperBound]]). */
  def eligible(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | TimestampType | StringType => true
    case _ => false
  }

  /** Types whose stored bounds are EXACT extreme values — the only
    * ones metadata-only MIN/MAX may answer from. String bounds may be
    * truncated (sound for skipping, wrong as values). */
  def exactBounds(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | TimestampType => true
    case _ => false
  }

  /** Truncation width for string bounds (chars). */
  private val TruncLen = 32

  /** Lower bound of a string file-min: a ≤-prefix (surrogate-safe). */
  def lowerBound(min: String): String = truncSafe(min)

  /** STRICT-or-exact upper bound of a string file-max: the value
    * itself when short; else an incremented prefix — the increment
    * lands only on chars whose successor is a valid non-surrogate
    * BMP char, so the bound is a real string and binary order agrees
    * with code-point order. None when no char can be incremented. */
  def upperBound(max: String): Option[String] =
    if (max.length <= TruncLen) Some(max)
    else incString(truncSafe(max))

  private def truncSafe(s: String): String =
    if (s.length <= TruncLen) s
    else if (Character.isHighSurrogate(s.charAt(TruncLen - 1)))
      s.substring(0, TruncLen - 1)
    else s.substring(0, TruncLen)

  /** The smallest safe string strictly greater than every string that
    * has `s` as a prefix: increment the LAST incrementable char and
    * cut there. Incrementable = successor stays a non-surrogate BMP
    * char (never creates a lone surrogate or overflows \uFFFF). */
  def incString(s: String): Option[String] = {
    var j = s.length - 1
    while (j >= 0) {
      val c = s.charAt(j)
      if (c < 0xD7FF || (c >= 0xE000 && c < 0xFFFE))
        return Some(s.substring(0, j) + (c + 1).toChar)
      j -= 1
    }
    None
  }

  private def num(v: Any): Option[BigDecimal] = v match {
    case n: java.lang.Number => scala.util.Try(BigDecimal(n.toString)).toOption
    case _ => None
  }

  private def str(v: Any): Option[UTF8String] = v match {
    case s: String => Some(UTF8String.fromString(s))
    case u: UTF8String => Some(u)
    case _ => None
  }

  private def colType(schema: StructType, a: String): Option[DataType] =
    schema.fields.find(_.name == a).map(_.dataType)

  private def cmpCol(schema: StructType, a: String, v: Any): Boolean =
    colType(schema, a).exists {
      case LongType | IntegerType | DoubleType => num(v).isDefined
      case StringType => str(v).isDefined
      case _ => false
    }

  /** Could this filter ever refute a file from stats alone? */
  def skippable(schema: StructType, f: v1.Filter): Boolean = f match {
    case v1.EqualTo(a, v) => cmpCol(schema, a, v)
    case v1.GreaterThan(a, v) => cmpCol(schema, a, v)
    case v1.GreaterThanOrEqual(a, v) => cmpCol(schema, a, v)
    case v1.LessThan(a, v) => cmpCol(schema, a, v)
    case v1.LessThanOrEqual(a, v) => cmpCol(schema, a, v)
    case v1.In(a, vs) => vs.nonEmpty && vs.forall(cmpCol(schema, a, _))
    case v1.StringStartsWith(a, v) =>
      colType(schema, a).contains(StringType) && v != null
    case v1.And(l, r) => skippable(schema, l) || skippable(schema, r)
    case v1.Or(l, r) => skippable(schema, l) && skippable(schema, r)
    case _ => false
  }

  private sealed trait Bounds
  private case class NumBounds(mn: BigDecimal, mx: BigDecimal) extends Bounds
  private case class StrBounds(mn: UTF8String, mx: UTF8String) extends Bounds

  /** TRUE iff the stats PROVE no row of the file satisfies the pushed
    * conjunction. */
  def refutedBy(filters: Seq[v1.Filter], stats: Seq[(Int, String, String)],
      schema: StructType): Boolean = {
    if (filters.isEmpty || stats.isEmpty) return false
    val byName: Map[String, Bounds] = stats.flatMap {
      case (i, mn, mx) if i >= 0 && i < schema.length =>
        val name = schema.fields(i).name
        schema.fields(i).dataType match {
          case StringType =>
            Some(name -> StrBounds(
              UTF8String.fromString(ManifestSink.unescape(mn)),
              UTF8String.fromString(ManifestSink.unescape(mx))))
          case LongType | IntegerType | DoubleType | TimestampType =>
            (scala.util.Try(BigDecimal(mn)).toOption,
              scala.util.Try(BigDecimal(mx)).toOption) match {
              case (Some(a), Some(b)) => Some(name -> NumBounds(a, b))
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }.toMap
    filters.exists(refutes(_, byName))
  }

  // below/above the FILE's value range — the two refutation verdicts
  // every atomic shape reduces to, dispatched on the bounds kind
  private def outside(b: Bounds, v: Any): (Boolean, Boolean) = b match {
    case NumBounds(mn, mx) =>
      num(v).map(x => (x < mn, x > mx)).getOrElse((false, false))
    case StrBounds(mn, mx) =>
      str(v).map(x => (x.compareTo(mn) < 0, x.compareTo(mx) > 0))
        .getOrElse((false, false))
  }
  private def atMostMax(b: Bounds, v: Any): Boolean = b match {
    // mx <= v: nothing in the file is > v
    case NumBounds(_, mx) => num(v).exists(x => mx <= x)
    case StrBounds(_, mx) => str(v).exists(x => mx.compareTo(x) <= 0)
  }
  private def belowMaxStrict(b: Bounds, v: Any): Boolean = b match {
    // mx < v: nothing in the file is >= v
    case NumBounds(_, mx) => num(v).exists(x => mx < x)
    case StrBounds(_, mx) => str(v).exists(x => mx.compareTo(x) < 0)
  }
  private def atLeastMin(b: Bounds, v: Any): Boolean = b match {
    // mn >= v: nothing in the file is < v
    case NumBounds(mn, _) => num(v).exists(x => mn >= x)
    case StrBounds(mn, _) => str(v).exists(x => mn.compareTo(x) >= 0)
  }
  private def aboveMinStrict(b: Bounds, v: Any): Boolean = b match {
    // mn > v: nothing in the file is <= v
    case NumBounds(mn, _) => num(v).exists(x => mn > x)
    case StrBounds(mn, _) => str(v).exists(x => mn.compareTo(x) > 0)
  }

  private def refutes(f: v1.Filter, m: Map[String, Bounds]): Boolean = f match {
    case v1.EqualTo(a, v) =>
      m.get(a).exists { b => val (lo, hi) = outside(b, v); lo || hi }
    case v1.GreaterThan(a, v) => m.get(a).exists(atMostMax(_, v))
    case v1.GreaterThanOrEqual(a, v) => m.get(a).exists(belowMaxStrict(_, v))
    case v1.LessThan(a, v) => m.get(a).exists(atLeastMin(_, v))
    case v1.LessThanOrEqual(a, v) => m.get(a).exists(aboveMinStrict(_, v))
    case v1.In(a, vs) =>
      m.get(a).exists { b =>
        vs.nonEmpty && vs.forall { v => val (lo, hi) = outside(b, v); lo || hi } }
    case v1.StringStartsWith(a, v) =>
      // strings with prefix v live in [v, incString(v)); refuted when
      // the whole file sits below v, or (when the half-open top is
      // expressible) at/above it
      m.get(a).exists {
        case sb: StrBounds =>
          belowMaxStrict(sb, v) ||
            incString(v).exists(up => atLeastMin(sb, up))
        case _ => false
      }
    case v1.And(l, r) => refutes(l, m) || refutes(r, m)
    case v1.Or(l, r) => refutes(l, m) && refutes(r, m)
    case _ => false
  }
}

// --------------------------------------------------------------- delete

/** Copy-on-write DELETE for manifest tables (see
  * [[ManifestTable.deleteWhere]]). Separated so the v1-Filter →
  * Column translation is testable and `canDeleteWhere` can reject
  * untranslatable predicates up front (Spark then fails the DELETE
  * loudly instead of deleting the wrong rows). */
object ManifestDelete {
  import org.apache.spark.sql.{functions => F, Column}
  import org.apache.spark.sql.{sources => v1}

  /** Conservative translation: anything not in this list makes
    * `canDeleteWhere` false. */
  def toColumn(f: v1.Filter): Option[Column] = f match {
    case v1.EqualTo(a, v) => Some(F.col(a) === F.lit(v))
    case v1.EqualNullSafe(a, v) => Some(F.col(a) <=> F.lit(v))
    case v1.GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
    case v1.GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
    case v1.LessThan(a, v) => Some(F.col(a) < F.lit(v))
    case v1.LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
    case v1.In(a, vs) => Some(F.col(a).isin(vs.toIndexedSeq: _*))
    case v1.IsNull(a) => Some(F.col(a).isNull)
    case v1.IsNotNull(a) => Some(F.col(a).isNotNull)
    case v1.StringStartsWith(a, v) => Some(F.col(a).startsWith(v))
    case v1.StringEndsWith(a, v) => Some(F.col(a).endsWith(v))
    case v1.StringContains(a, v) => Some(F.col(a).contains(v))
    case v1.Not(c) => toColumn(c).map(!_)
    case v1.And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case v1.Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case v1.AlwaysTrue() => Some(F.lit(true))
    case v1.AlwaysFalse() => Some(F.lit(false))
    case _ => None
  }

  def run(path: String, filters: Array[v1.Filter]): Unit = {
    val root = new File(path)
    val before = ManifestSink.sortedManifests(root)
    if (before.isEmpty) return // nothing committed → nothing to delete
    val spark = org.apache.spark.sql.SparkSession.active
    val toDelete = filters.flatMap(toColumn(_)).reduceOption(_ && _)
      .getOrElse(F.lit(true))
    // SQL DELETE removes rows where the predicate is TRUE — rows where
    // it evaluates to NULL (three-valued logic: e.g. `c = 'x'` on a
    // null c, which this sink produces via all-nullable schemas and
    // evolution null-padding) must SURVIVE, so the survivor filter is
    // NOT(coalesce(p, false)), not NOT(p).
    val hit = F.coalesce(toDelete, F.lit(false))
    // both scans read the `before` snapshot — a commit racing the
    // delete is then caught exactly once, by the swap's optimistic
    // validation, not by the scans drifting apart
    ManifestSink.rewrite(spark, path, before, "cow") { table =>
      val fileCol = table.metadataColumn(ManifestSink.FileCol)
      // FILE-GRANULAR rewrite (the Delta/Iceberg COW-delete shape): only
      // files that HOLD a matching row are rewritten; every other
      // committed file is adopted into the checkpoint UNDER ITS OWN NAME
      // with its bytes untouched. A targeted delete on a big table stops
      // paying a full-table rewrite — it pays one distributed scan (no
      // per-file column stats in the manifest to skip it) plus a rewrite
      // of the hit files only. The hit-file collect is bounded by the
      // committed FILE count, the same driver-resident list every
      // manifest operation already holds.
      // the hit scan filters on the RAW predicate, not the coalesce
      // wrapper: rows where p is TRUE are identical (null -> filtered
      // either way), and the raw conjunction translates to v1 filters,
      // so the scan FILE-SKIPS on the manifest stats — an id-targeted
      // takedown reads only the files whose [min, max] admit the ids
      val hits = table.filter(toDelete).select(fileCol.as("f")).distinct()
        .collect().map(_.getString(0)).toSet
      // DELETE matched nothing: no rewrite, no commit. Otherwise the hit
      // files' survivors are rewritten and one checkpoint absorbs the
      // entire pre-delete history PLUS this delete as a logical commit;
      // untouched files are adopted as their FULL entries — their stats
      // survive the swap verbatim — and are never rolled back on
      // conflict: they belong to the surviving history.
      if (hits.isEmpty) None
      else Some((table.filter(fileCol.isin(hits.toSeq: _*) && !hit),
        ManifestSink.entriesOf(before).filterNot(e => hits(ManifestSink.nameOf(e)))))
    }
  }
}

/** File-level OPTIMIZE for manifest tables — the small-files
  * compaction every streaming sink eventually needs: thousands of
  * per-epoch micro-files become `nFiles` bin-packed ones. Manifest
  * compaction ([[ManifestSink.compact]]) shrinks the LOG; this
  * shrinks the DATA, through the same optimistic swap as
  * DELETE/upsert, so a commit landing mid-rewrite aborts the
  * optimize instead of being dropped. Contents are bit-identical —
  * only the file layout changes — and the swap registers as one
  * logical commit so offsets/versions stay monotone. */
object ManifestOptimize {
  /** Per-dimension quantization width for ZORDER BY (the z-value
    * interleave takes bucket ids in [0, 2^bits)): 16 bits/dim is far
    * finer than any realistic file count, so file-level clustering is
    * unaffected by the quantization. */
  val ZBits = 16

  /** `zorderBy = Some((x, y))` rewrites the data MULTI-DIMENSIONALLY
    * CLUSTERED instead of bin-packed: dimension values are min/max-
    * normalized into 2^ZBits buckets (one tiny stats agg over the
    * table — this is a maintenance op), interleaved into a Morton
    * z-value ([[graft.functions.ZOrder]]), range-partitioned and
    * sorted by it, so every output file covers a tight box in BOTH
    * dimensions — exactly what makes per-file min/max statistics
    * (parquet footers, or a format's manifest-level column stats)
    * selective for 2-D box predicates (what Delta's OPTIMIZE ZORDER
    * BY and Iceberg sort orders do). The z-value is layout-only — it
    * never lands in the table schema. */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      nFiles: Int = 1, zorderBy: Option[(String, String)] = None): Unit = {
    require(nFiles >= 1, "nFiles must be >= 1")
    val root = new File(path)
    val before = ManifestSink.sortedManifests(root)
    if (before.isEmpty) return
    import org.apache.spark.sql.{functions => F}
    ManifestSink.rewrite(spark, path, before, "opt") { df =>
      val rewritten = zorderBy match {
        case None => df.coalesce(nFiles)
        case Some((xc, yc)) =>
          val s = df.agg(
            F.min(F.col(xc).cast("double")), F.max(F.col(xc).cast("double")),
            F.min(F.col(yc).cast("double")), F.max(F.col(yc).cast("double"))).head()
          def bucket(c: String, i: Int): org.apache.spark.sql.Column =
            if (s.isNullAt(i) || s.getDouble(i + 1) <= s.getDouble(i))
              F.lit(0L) // empty/constant dimension: degenerate but legal
            else ((F.col(c).cast("double") - s.getDouble(i))
              / (s.getDouble(i + 1) - s.getDouble(i))
              * ((1L << ZBits) - 1)).cast("long")
          graft.functions.ZOrder
            .layoutByZ(df, bucket(xc, 0), bucket(yc, 2), ZBits, nFiles)
            .drop("zv")
      }
      Some((rewritten, Nil))
    }
  }

  /** Delete data files no visible manifest references — the garbage
    * left behind by OPTIMIZE/DELETE/upsert swaps. Deliberately a
    * SEPARATE explicit call (never automatic): an in-flight reader
    * that listed manifests before a swap may still be reading the old
    * files, so vacuum carries the same contract as every table
    * format's VACUUM — run it only once no reader predates the swap.
    *
    * Concurrent WRITERS are a sharper hazard than readers: a commit
    * moves its data files into the root BEFORE writing the manifest
    * that references them (ManifestBatchWrite.commit), so a vacuum
    * racing that window would see unreferenced just-published files,
    * delete them, and leave the subsequent manifest permanently
    * pointing at nothing. The retention check below closes it the way
    * table formats do: only files older than `graceMs` are reclaimable
    * (default 1 h — longer than any sane publish window), so an
    * in-flight commit's freshly-moved files are never candidates.
    * Passing graceMs=0 re-opens the race and is only for tests /
    * single-writer maintenance windows.
    * Returns the number of files reclaimed. */
  def vacuum(path: String, graceMs: Long = 3600000L): Int = {
    val root = new File(path)
    val live = ManifestSink.filesOf(ManifestSink.sortedManifests(root)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val orphans = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !live.contains(f.getName) && f.lastModified() <= cutoff)
    orphans.foreach(_.delete())
    orphans.length
  }
}

/** Keyed UPSERT (MERGE semantics) for manifest tables — the
  * reference's Postgres `insert … on conflict update` sink contract
  * (main.py:453-457) on an object-store table: rows in `batch` REPLACE
  * current rows sharing their key; everything else is inserted.
  * Copy-on-write like DELETE: survivors = current rows whose key is
  * ABSENT from the batch (broadcast left-anti — the batch is the small
  * side by definition of an upsert), then survivors ∪ batch swap in as
  * one checkpoint + commit. Replaying the same batch is a no-op
  * state-wise (same final rows), which is the idempotence the
  * reference gets from Postgres transactions. */
object ManifestUpsert {
  import org.apache.spark.sql.{functions => F, DataFrame}

  def upsert(path: String, batch: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    val spark = batch.sparkSession
    val root = new File(path)
    val before = ManifestSink.sortedManifests(root)
    if (before.isEmpty) {
      // first write defines the table — a plain insert
      batch.write.format("graft.sources.ManifestSink")
        .option("path", path).mode("append").save()
      return
    }
    // optimistic swap: a commit that landed since `before` aborts the
    // merge (its rows are not in our survivor set) — caller retries
    ManifestSink.rewrite(spark, path, before, "ups") { current =>
      val survivors =
        current.join(F.broadcast(batch.select(keyCols.map(F.col): _*).distinct()),
          keyCols, "left_anti")
      Some((survivors.unionByName(batch.select(current.columns.map(F.col).toIndexedSeq: _*)),
        Nil))
    }
  }
}
