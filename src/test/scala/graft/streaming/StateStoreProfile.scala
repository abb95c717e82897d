package graft.streaming

import graft.SparkSpec

/** Shared state-store provider-profile scaffolding for the streaming
  * suites that run twice (default HDFS-backed store and RocksDB — the
  * 100-TB configuration) and for single tests that pin a provider
  * (`withProvider`). One copy of the conf-key plumbing so the
  * profiles cannot drift between suites.
  */
trait StateStoreProfile extends org.scalatest.BeforeAndAfterAll {
  this: SparkSpec =>

  /** Provider class this profile runs under; None = session default. */
  protected def stateStoreProvider: Option[String]

  protected final val ProviderKey =
    "spark.sql.streaming.stateStore.providerClass"

  /** The RocksDB provider class name, for concrete profiles. */
  protected final val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    stateStoreProvider.foreach(p => spark.conf.set(ProviderKey, p))
  }

  override protected def afterAll(): Unit = {
    stateStoreProvider.foreach(_ => spark.conf.unset(ProviderKey))
    super.afterAll()
  }

  /** Pin a provider for one query, restoring the suite's profile after
    * — a bare unset would silently drop the RocksDB profile for the
    * rest of the suite. */
  protected def withProvider[T](p: String)(body: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, p)
    try body finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }
}
