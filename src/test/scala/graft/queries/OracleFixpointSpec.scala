package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** The unrolled connected-components oracle ([[PipelineQueries.ccUnrolledCtes]])
  * run under DuckDB, the engine the oracle SQL is written for: a component
  * wider than the unrolled rounds reach must fail the query, never return a
  * wrong labelling. Cancelled where `python3` with the `duckdb` module is
  * not installed. */
class OracleFixpointSpec extends AnyFunSuite {

  /** (exit code, stdout + stderr) of `sql` under DuckDB. */
  private def duckdb(sql: String): (Int, String) = {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val script = "import sys, duckdb\n" +
      "print(duckdb.connect().execute(sys.stdin.read()).fetchall())"
    val in = new java.io.ByteArrayInputStream(sql.getBytes("UTF-8"))
    val code = (Seq("python3", "-c", script) #< in).!(log)
    (code, out.toString)
  }

  private def assumeDuckdb(): Unit = {
    val ok = try Seq("python3", "-c", "import duckdb").!(ProcessLogger(_ => ())) == 0
    catch { case _: java.io.IOException => false }
    assume(ok, "python3 with the duckdb module is not available")
  }

  /** Component count of an undirected chain over ids 0..n-1. */
  private def chainComponents(n: Int): (Int, String) = duckdb(
    s"WITH e1 AS (SELECT i AS src, i + 1 AS dst FROM range(${n - 1}) t(i)), " +
      "e AS (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1), " +
      PipelineQueries.ccUnrolledCtes("e") +
      " SELECT count(DISTINCT comp) FROM c")

  test("oracle connected components: a chain within the unrolled horizon is one component") {
    assumeDuckdb()
    val (code, out) = chainComponents(200)
    assert(code == 0 && out.trim == "[(1,)]", out)
  }

  test("oracle connected components: a chain longer than 256 fails instead of mislabelling") {
    assumeDuckdb()
    // without the fixpoint assertion 8 rounds leave this 600-node chain
    // split into 90 "components"
    val (code, out) = chainComponents(600)
    assert(code != 0 && out.contains("did not converge in 8 rounds"), out)
  }
}
