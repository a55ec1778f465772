package perfbench

import org.apache.spark.sql.SparkSession

/** Prints the aggregate oracle pins of `SparkEntry.oracleSql` anew: every
  * query whose oracle is a literal VALUES table, except the row-level
  * copies kept under `src/main/resources/frozen/`, is run on the given
  * tables and its rows are printed as sorted SQL tuples, ready to paste.
  *
  * Usage: Pins --tables DIR --work DIR [--only q1,q2,...]
  */
object Pins {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val only = a.get("only").map(_.split(",").toSet)
    val names = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql) if sql.trim.startsWith("SELECT * FROM (VALUES") &&
          getClass.getResource(s"/frozen/${name.take(3)}_rows.tsv") == null &&
          only.forall(_(name)) => name
    }
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try names.foreach { name =>
      val rows = graft.SparkEntry.queries(name)(spark, a("tables")).collect()
      println(s"=== $name (${rows.length} rows)")
      rows.map(_.toSeq.map {
        case null => "NULL"
        case s: String => "'" + s.replace("'", "''") + "'"
        case x => String.valueOf(x)
      }.mkString("(", ", ", ")")).sorted.foreach(t => println(t + ","))
    } finally spark.stop()
  }
}
