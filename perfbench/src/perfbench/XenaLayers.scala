package perfbench

import org.apache.spark.sql.DataFrame

import graft.io.{XenaMetadata, XenaTsv}
import graft.model.DTypes
import graft.ops.XenaOps
import graft.transform.{Clinical, GdcTransforms}

/** The `xena_pipeline` flow replayed in one session through the public
  * functions `graft.Cli` calls, each call timed as its own span:
  *
  *  - `transform.call_ms`: `GdcTransforms.transform`,
  *    `Clinical.clinicalMatrix` and `GdcTransforms.survivalMatrix`,
  *    including the sample listing and CSV schema jobs they run;
  *  - `io.tsv_write_ms`, `io.tsv_read_ms`, `io.metadata_ms`:
  *    `XenaTsv.write`, `XenaTsv.read` (with its inferSchema pass) and
  *    `XenaMetadata.write`;
  *  - `xenaops.merge_call_ms`: `XenaOps.mergeHorizontal` /
  *    `mergeVertical`, which build and analyse the merge plan.
  *
  * {{{
  * XenaLayers <rawRoot> <outRoot> <p1,p2,...> <etl dtypes> <merged dtypes> <out.json>
  * }}}
  */
object XenaLayers {
  def main(args: Array[String]): Unit = {
    val Array(raw, outRoot, projects, dtypes, merged, out) = args
    val spark = Harness.session()
    val vars = XenaMetadata.Vars(xenaCohort = "GDC replay", date = "01-01-2000")
    def meta(path: String, dtype: String): Unit = Trace.span("io.metadata_ms", "replay", counter = true) {
      XenaMetadata.write(path, DTypes.registry(dtype).metadataKind,
        XenaMetadata.dtypeVariables.get(dtype).map(_(vars)).getOrElse(vars))
    }
    def write(df: DataFrame, path: String): Unit = Trace.span("io.tsv_write_ms", "replay", counter = true) {
      XenaTsv.write(df, path, rowKey = Some(df.columns.head))
    }
    for (p <- projects.split(","); d <- dtypes.split(",")) {
      val dir = s"$raw/$p/$d"
      val matrix = Trace.span("transform.call_ms", "replay", counter = true) {
        d match {
          case "clinical" => Clinical.clinicalMatrix(spark, dir)
          case "survival" =>
            GdcTransforms.survivalMatrix(spark, s"$dir/survival.tsv", s"$dir/case_samples.json")
          case _ => GdcTransforms.transform(spark, d, dir)
        }
      }
      write(matrix, s"$outRoot/$p/$d.tsv")
      meta(s"$outRoot/$p/$d.tsv", d)
    }
    for (d <- merged.split(",")) {
      val dfs = projects.split(",").toSeq.map { p =>
        Trace.span("io.tsv_read_ms", "replay", counter = true)(XenaTsv.read(spark, s"$outRoot/$p/$d.tsv", None))
      }
      val kind = DTypes.registry(d).kind
      val m = Trace.span("xenaops.merge_call_ms", "replay", counter = true) {
        if (kind == DTypes.MatrixKind.GenomicSegment || kind == DTypes.MatrixKind.MutationVector)
          XenaOps.mergeVertical(dfs)
        else XenaOps.mergeHorizontal(dfs, dfs.head.columns.head)
      }
      Trace.add("xenaops.merged_columns", m.columns.length.toDouble)
      write(m, s"$outRoot/merged/$d.tsv")
      meta(s"$outRoot/merged/$d.tsv", d)
    }
    spark.stop()
    Json.write(out, Map("ok" -> true))
    Trace.dump()
  }
}
