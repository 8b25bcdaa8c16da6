package graft.tools

import graft.io.{Nc3, SyntheticGrid}

/** Dev tool: generate the committed NetCDF-3 fixture
  * `data/hermine_subset.nc` — a small HYCOM-shaped file (record time
  * dim, CF short-packed variables, exactly what the public service
  * publishes) over a coarse Hermine-region grid. Nc3Spec ingests the
  * committed file; this main exists so the fixture is reproducible.
  */
object MakeNcFixture {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("data/hermine_subset.nc")
    val spark = graft.Session.local(4)
    val spec = SyntheticGrid.hermineSpec(step = 2.0)
    val grid = SyntheticGrid.cleanSentinels(SyntheticGrid.generate(spark, spec))
    Nc3.write(grid, spec, out, packShort = true, recordTime = true)
    println(s"[make-nc-fixture] wrote $out (${new java.io.File(out).length()} bytes)")
    spark.stop()
  }
}
