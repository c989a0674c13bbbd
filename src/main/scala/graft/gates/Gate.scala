package graft.gates

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One correctness gate: a named operator query plus the equivalent ANSI SQL
 * the driver runs in DuckDB over the same parquet tables (`oracle`).
 *
 * `prepare` builds the gate's corpus-deterministic setup — an index base, a
 * staged store, a certification side — and `run` is the operator the gate
 * certifies, consuming that setup. A fresh JVM (`Verify`, the driver) pays
 * both; `Bench` pays `prepare` outside its timed region. Setup that several
 * gates share is a [[Fixture]], so it is built once per JVM.
 *
 * Determinism rules (SURVEY.md §5.2): fixed literal windows inside fixture
 * date ranges, no wall-clock, exact integer/decimal math wherever a value is
 * compared (double sums only behind explicit per-row decimal casts), ties in
 * top-k broken by id in both engines.
 */
final case class Gate[P](name: String, oracle: String,
    prepare: (SparkSession, String) => P,
    run: (SparkSession, String, P) => DataFrame) {

  /** `prepare` then `run`: the gate as a fresh JVM sees it. */
  def apply(s: SparkSession, d: String): DataFrame = run(s, d, prepare(s, d))

  /** Pay `prepare` now; the returned thunk is the `run` left to time. */
  def prepared(s: SparkSession, d: String): () => DataFrame = {
    val p = prepare(s, d)
    () => run(s, d, p)
  }
}

object Gate {
  /** A gate with no setup of its own. */
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Gate[Unit] =
    Gate[Unit](name, oracle, (_, _) => (), (s, d, _) => run(s, d))
}

/** A per-JVM memo of one corpus-deterministic gate input, keyed by sfDir.
  * Values are plain JVM values and store DIRECTORIES — never live cached
  * DataFrames, so the bench's per-query `Dedup.unpersistAll` cannot
  * invalidate them. */
final class Fixture[T](build: (SparkSession, String) => T) extends ((SparkSession, String) => T) {
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, T]()
  def apply(s: SparkSession, d: String): T = memo.computeIfAbsent(d, _ => build(s, d))
}

object Fixture {
  def apply[T](build: (SparkSession, String) => T): Fixture[T] = new Fixture(build)
}

/** Scratch directories for gate bodies and fixtures, all under one per-JVM
  * root that a shutdown hook deletes. Deletion waits for JVM exit because
  * gate frames read these directories lazily, long after the gate returns. */
object Scratch {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-gates")
    sys.addShutdownHook(deleteTree(r))
    r
  }

  /** A fresh directory under the per-JVM root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** A fresh directory holding a copy of the file tree at `src` (the store
    * fixtures are small local trees; copying is milliseconds next to the
    * Spark jobs a rebuild costs). */
  def copyOf(src: String, prefix: String): Path = {
    val from = Path.of(src)
    val to = dir(prefix)
    val walk = Files.walk(from)
    try walk.forEach { p: Path =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } finally walk.close()
    to
  }

  /** Best-effort recursive delete: traversal errors (a file vanishing under
    * a concurrent cleanup) must not fail the caller. */
  def deleteTree(p: Path): Unit =
    try {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach((f: Path) => { Files.deleteIfExists(f); () })
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}

/** The gate registry: every family's gates, by name. */
object Gates {
  /** Index gates by name, refusing duplicates — merging the families into a
    * map would otherwise silently drop one of two gates with the same name. */
  def registry(gates: Seq[Gate[_]]): Map[String, Gate[_]] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }

  val byName: Map[String, Gate[_]] = registry(
    SyncGates.gates ++ AnalyticsGates.gates ++ TextGates.gates ++ SamplingGates.gates ++
      DedupGates.gates ++ SimilarityGates.gates ++ GraphGates.gates ++
      StreamingGates.gates ++ MediaGates.gates ++ JdbcGates.gates)
}
