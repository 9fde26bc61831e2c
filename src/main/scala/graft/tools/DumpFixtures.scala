package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** One-off generator for the committed oracle fixtures under
  * src/test/resources/fixtures/: parquet equivalents of the reference's
  * ND containers, used by the driver's DuckDB oracle for the
  * q_netcdf_profile / q_zarr_gridded gate queries.
  *
  * Provenance note: the parquet is produced by THIS engine's readers,
  * so on its own it would only pin regressions; independence comes
  * from FormatsSpec's cross-container check (the same gridded dataset
  * read from the HDF5 and Zarr containers — two disjoint parsers —
  * agrees bit-for-bit) and from the golden values pinned there.
  */
object DumpFixtures {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    val out = "src/test/resources/fixtures"

    graft.queries.QueriesFormats.zarrGridded(spark)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/zarr_gridded_slice")

    graft.queries.QueriesFormats.netcdfProfile(spark)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/netcdf_profile")

    spark.stop()
  }
}
