package graft

import org.scalatest.funsuite.AnyFunSuite

/** Loads dags/graft_aw_dag.py through tools/check_dag.py: the DAG file is
  * executed (against a minimal Airflow stub, since Airflow isn't a build
  * dependency) and must produce the reference topology — five parallel
  * dimension tasks fanning into etl_fato_vendas, each task a spark-submit
  * of `AwRun --table <name>` (reference README.md:113 ordering contract).
  * The docs' other launch instructions (`runMain` / `tools/run.sh`) must
  * name mains that exist, so a deleted main cannot leave them dead.
  */
class DagSpec extends AnyFunSuite {
  test("graft_aw_dag.py loads and has the 5-dims-then-fato topology") {
    import scala.sys.process._
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n'))
    val code = Process(Seq("python3", "tools/check_dag.py"),
      new java.io.File(sys.props.getOrElse("user.dir", "."))).!(logger)
    assert(code === 0, s"check_dag.py failed:\n$out")
    assert(out.toString.contains("dag ok"), out.toString)
  }

  test("every main README.md and BENCH.md tell the reader to run exists") {
    val root = new java.io.File(sys.props.getOrElse("user.dir", "."))
    val launch = """(?:runMain|tools/run\.sh)\s+(graft(?:\.\w+)+)""".r
    val named = Seq("README.md", "BENCH.md").flatMap { f =>
      val txt = java.nio.file.Files.readString(new java.io.File(root, f).toPath)
      launch.findAllMatchIn(txt).map(m => f -> m.group(1))
    }.distinct
    assert(named.map(_._2).contains("graft.Verify"), "the pattern matched nothing")
    val dead = named.filterNot { case (_, cls) =>
      scala.util.Try(Class.forName(cls).getMethod("main", classOf[Array[String]]))
        .toOption.exists(m => java.lang.reflect.Modifier.isStatic(m.getModifiers))
    }
    assert(dead.isEmpty, s"documented mains that do not load: $dead")
  }
}
