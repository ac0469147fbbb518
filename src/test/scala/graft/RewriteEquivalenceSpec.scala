package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.index.VectorIndexes

/** Property: under exact index settings the KNN rewrite changes no
  * answer. Random tables of continuous 3-d vectors (so distances do not
  * tie) go through random INSERT / DELETE sequences in [[Engine]];
  * after every statement the KNN ids under `ivfflat` with
  * probe_lists = lists and under `hnsw` with ef_search above the row
  * count equal those of `none` (brute force), and both indexed runs
  * are served through the index. After every INSERT / DELETE the
  * served IVFFlat bucket layout's (id, bucket) pairs also equal its
  * posting lists, and its ids the live table's non-null `__rid`s. */
class RewriteEquivalenceSpec extends SparkSpecBase {
  import RewriteEquivalenceSpec._

  private def arr(v: Seq[Double]): String =
    v.map(x => "%.9f".formatLocal(java.util.Locale.ROOT, x))
      .mkString("ARRAY [", ", ", "]")

  /** Failure messages of one generated case; empty when it holds. */
  private def failures(c: Case): Seq[String] = {
    val e = new Engine(spark)
    var nextTag = 0
    def insert(vs: Seq[Seq[Double]]): Unit = {
      val rows = vs.map { v => nextTag += 1; s"(${arr(v)}, $nextTag)" }
      e.executeSql(s"INSERT INTO pe VALUES ${rows.mkString(", ")}")
    }
    def knn(method: String, q: Seq[Double]): (Seq[Int], Boolean) = {
      e.executeSql(s"set vector_index_method=$method")
      val df = e.executeSql(s"SELECT tag FROM pe ORDER BY v <-> ${arr(q)} LIMIT $K")
      (df.collect().map(_.getInt(0)).toSeq,
        df.queryExecution.optimizedPlan.toString.contains("__graft_knn_id"))
    }
    def disagreements(after: String): Seq[String] = c.queries.flatMap { q =>
      val (brute, _) = knn("none", q)
      Seq("ivfflat", "hnsw").flatMap { m =>
        val (got, rewritten) = knn(m, q)
        (if (got != brute) Seq(s"$m after $after: $got, brute $brute") else Nil) ++
          (if (!rewritten && brute.nonEmpty) Seq(s"$m after $after: not rewritten")
           else Nil)
      }
    }
    // the served IVFFlat layout is the posting lists over the live table
    def layoutMismatch(after: String): Seq[String] = {
      val rids = e.table("pe").filter("v IS NOT NULL").select(Engine.RowId)
        .collect().map(_.getLong(0)).sorted.toSeq
      VectorIndexes.get("pe_ivf").map(_.model) match {
        case Some(ivf @ VectorIndexes.IvfModel(m, idCol)) =>
          val layout = m.buckets.select(idCol, "__bucket").collect()
            .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
          val lists = ivf.lists.ids.toSeq.zip(ivf.lists.buckets.toSeq)
          (if (layout != lists) Seq(s"layout after $after: $layout, lists $lists")
           else Nil) ++
            (if (layout.map(_._1) != rids) Seq(s"layout after $after: ids " +
              s"${layout.map(_._1)}, table $rids") else Nil)
        case None if rids.isEmpty => Nil
        case other => Seq(s"pe_ivf after $after: $other")
      }
    }
    try {
      e.executeSql(s"CREATE TABLE pe(v VECTOR($Dim), tag integer)")
      insert(c.rows)
      e.executeSql("CREATE INDEX pe_ivf ON pe USING ivfflat (v vector_l2_ops) " +
        s"WITH (lists = ${c.lists}, probe_lists = ${c.lists})")
      e.executeSql("CREATE INDEX pe_hnsw ON pe USING hnsw (v vector_l2_ops) " +
        s"WITH (m = 4, ef_construction = 16, ef_search = $EfSearch)")
      disagreements("CREATE INDEX") ++ c.stmts.flatMap { s =>
        s match {
          case Insert(vs) => insert(vs)
          case Delete(m, r) => e.executeSql(s"DELETE FROM pe WHERE tag % $m = $r")
        }
        disagreements(s.toString) ++ layoutMismatch(s.toString)
      }
    } finally {
      e.executeSql("set vector_index_method=")
      VectorIndexes.drop("pe_ivf")
      VectorIndexes.drop("pe_hnsw")
    }
  }

  test("KNN ids: exact ivfflat == exact hnsw == brute force after every INSERT/DELETE") {
    val params = Test.Parameters.default.withMinSuccessfulTests(8)
      .withWorkers(1).withInitialSeed(Seed(20261017L))
    val prop = Prop.forAllNoShrink(cases) { c =>
      val f = failures(c)
      f.isEmpty :| f.mkString("; ")
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}

object RewriteEquivalenceSpec {
  val Dim = 3
  val K = 3
  /** above any generated row count (12 + 4 statements × 3 rows), so the
    * HNSW walk ranks every row */
  val EfSearch = 32

  sealed trait Stmt
  final case class Insert(vs: Seq[Seq[Double]]) extends Stmt
  final case class Delete(mod: Int, rem: Int) extends Stmt
  final case class Case(rows: Seq[Seq[Double]], lists: Int,
      stmts: Seq[Stmt], queries: Seq[Seq[Double]])

  private val vec: Gen[Seq[Double]] = Gen.listOfN(Dim, Gen.choose(-1.0, 1.0))
  private val stmt: Gen[Stmt] = Gen.frequency(
    2 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, vec)).map(Insert(_)),
    1 -> Gen.choose(2, 5).flatMap(m => Gen.choose(0, m - 1).map(Delete(m, _))))
  val cases: Gen[Case] = for {
    n <- Gen.choose(4, 12)
    rows <- Gen.listOfN(n, vec)
    lists <- Gen.choose(1, 4)
    s <- Gen.choose(1, 4)
    stmts <- Gen.listOfN(s, stmt)
    queries <- Gen.listOfN(2, vec)
  } yield Case(rows, lists, stmts, queries)
}
