package graft.beacon

import java.io.FileOutputStream
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import scala.jdk.CollectionConverters._

/** CSV sink matching the reference's petl `.tocsv()` contract
  * (prepare_calls.py:176-191): one named file per table, header row,
  * null → empty cell, rows in source-file order.
  *
  * Order preservation is the deliberate engine decision petl gets for
  * free (SURVEY.md §7.3.1): every pipeline output carries an `_ord`
  * struct and the sink produces the file in that global order. The sort
  * is DISTRIBUTED — `orderBy(_ord)` range-partitions and each task
  * external-sorts its range with spilling — and the single named file
  * is assembled by streaming the ordered part files together in part
  * order (pure sequential I/O, constant memory). No single task ever
  * holds the whole output, so the parity sink survives inputs that a
  * `coalesce(1)` one-task sort could not.
  */
object CsvIO {

  def writeCsv(df: DataFrame, outPath: String): Unit = {
    val tmpRoot = Files.createTempDirectory("graft-csv-")
    try {
      val tmpDir = tmpRoot.toString + "/out"
      val engineCols = df.columns.filter(_.startsWith("_"))
      val out = df.orderBy(col("_ord")).drop(scala.collection.immutable.ArraySeq.unsafeWrapArray(engineCols): _*)
      out.write
        .option("header", false)
        .option("emptyValue", "")
        .option("nullValue", "")
        .mode("overwrite")
        .csv(tmpDir)
      // part files are emitted in global order: part-00000 < part-00001…
      val listing = Files.list(Paths.get(tmpDir))
      val parts =
        try listing.iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
          .sortBy(_.getFileName.toString)
        finally listing.close()
      val target = Paths.get(outPath)
      if (target.getParent != null) Files.createDirectories(target.getParent)
      val os = new FileOutputStream(target.toFile)
      try {
        // header row with the standard csv-dialect quoting (these column
        // names are snake_case, but stay correct for any name)
        os.write((out.columns.map(quoteCell).mkString(",") + "\n")
          .getBytes("UTF-8"))
        parts.foreach(p => Files.copy(p, os))
      } finally os.close()
    } finally {
      // drop the _SUCCESS/.crc droppings along with the temp root
      graft.Tables.deleteRecursively(tmpRoot.toString)
    }
  }

  private def quoteCell(cell: String): String =
    if (cell.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + cell.replace("\"", "\"\"") + "\""
    else cell

  /** Write to stdout (the prepare-contacts sink, prepare_contacts.py:44):
    * the bytes [[writeCsv]] would put in a file, copied verbatim — a
    * quoted cell's `\r\n` or lone `\r` stays as written. Goes through
    * `Console.out`, so `Console.withOut` redirects it. */
  def writeStdout(df: DataFrame): Unit = {
    val tmp = Files.createTempFile("graft-stdout-", ".csv")
    try {
      writeCsv(df, tmp.toString)
      Files.copy(tmp, Console.out)
      Console.out.flush()
    } finally Files.deleteIfExists(tmp)
  }
}
