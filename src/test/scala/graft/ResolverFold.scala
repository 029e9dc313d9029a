package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{AccountsConfig, Block, NearModel}
import graft.state.ReceiptTxResolver

/** The resolver's one fold, [[ReceiptTxResolver.foldBatch]], run one
  * block per batch without the streaming engine or the sinks: a
  * deterministic single-JVM twin of the stream's resolution. */
object ResolverFold {

  /** Fold the blocks one-per-micro-batch; returns the accumulated
    * resolved bronze events exactly as the stream emitted them. */
  def runMicroBatched(
      spark: SparkSession,
      blocks: Seq[Block],
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks): DataFrame = {
    import spark.implicits._
    var state = ReceiptTxResolver.emptyState(spark)
    val batches = blocks.sortBy(_.header.height).map { block =>
      val (carry, _, events) = ReceiptTxResolver.foldBatch(state,
        spark.createDataset(Seq(block)).toDF(), accounts, ttlBlocks,
        block.header.height)
      state = carry
      events.localCheckpoint()
    }
    batches.reduce(_ unionByName _)
  }
}
