package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test view of the local block store, which is package-private to Spark. */
object BlockStoreProbe {
  /** Ids of the broadcasts whose deserialized value in the block store
    * (`broadcast_<id>`, not its serialized `_piece` blocks) is a join's
    * hashed relation; task binaries and other broadcast values are left
    * out. */
  def broadcastRelations(): Set[Long] = {
    val blocks = SparkEnv.get.blockManager
    blocks.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap { id =>
      // reading the iterator to its end releases the block's read lock
      blocks.getLocalValues(id).map(r => (id, r.data.toList))
    }.collect {
      case (BroadcastBlockId(id, _), v :: Nil) if v.getClass.getName.endsWith("HashedRelation") => id
    }.toSet
  }
}
