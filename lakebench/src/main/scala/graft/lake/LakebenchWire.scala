package graft.lake

import org.apache.spark.sql.DataFrame

/** The server's result routing, which the engine keeps package-private:
  * the traced read encodes a result with the same encoder and chunk limits
  * [[GrpcLakeServer]]'s SelectIpc picks for it.
  */
object LakebenchWire {
  def big(server: LakeServer, df: DataFrame): Boolean = server.estimateBig(df)
  def chunkRows(server: LakeServer): Long = server.chunkRows
  def chunkBytes(server: LakeServer): Long = server.chunkBytes
}
