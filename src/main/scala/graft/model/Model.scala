package graft.model

import org.apache.spark.sql.types._

/** Canonical decoded row of the state-history stream.
  *
  * The reference models two record kinds sharing a key prefix
  * (`ReaderItem`/`Account`/`Storage`, erigon_extract.c:181-197); here both are
  * flattened into one case class with an `isStorage` discriminator so a single
  * `Dataset[StateItem]` can carry the whole tagged stream. Account rows keep
  * `slot`/`value` all-zero; storage rows keep `nonce`/`balance`/`codeHash`
  * all-zero — the reference's model is dense-with-zero-defaults (no NULLs,
  * erigon_extract.c:208-215, 327-331).
  *
  * All byte fields are fixed-width big-endian; lexicographic unsigned byte
  * ordering equals the reference's memcmp ordering (erigon_extract.c:2105).
  */
final case class StateItem(
    address: Array[Byte],  // 20 bytes
    block: Long,
    isStorage: Boolean,
    nonce: Long,           // account only
    incarnation: Long,
    balance: Array[Byte],  // 32 bytes, account only (unsigned 256-bit BE)
    codeHash: Array[Byte], // 32 bytes, account only
    slot: Array[Byte],     // 32 bytes, storage only
    value: Array[Byte])    // 32 bytes, storage only (unsigned 256-bit BE)

object StateItem {
  val AddressLen = 20
  val HashLen = 32

  def zeros(n: Int): Array[Byte] = new Array[Byte](n)

  /** keccak256("") — the well-known empty-code hash
    * (erigon_extract.c:175-179); normalized to all-zeros in the encoded
    * format (erigon_extract.c:832-838).
    */
  val EmptyCodeHash: Array[Byte] =
    ("c5d2460186f7233c927e7db2dcc703c0" +
      "e500b653ca82273b7bfad8045d85a470")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def account(address: Array[Byte], block: Long, nonce: Long,
              incarnation: Long, balance: Array[Byte],
              codeHash: Array[Byte]): StateItem =
    StateItem(address, block, isStorage = false, nonce, incarnation,
      balance, codeHash, zeros(HashLen), zeros(HashLen))

  def storage(address: Array[Byte], block: Long, incarnation: Long,
              slot: Array[Byte], value: Array[Byte]): StateItem =
    StateItem(address, block, isStorage = true, 0L, incarnation,
      zeros(HashLen), zeros(HashLen), slot, value)

  /** Fixed Spark schema of the decoded stream (FIXTURES.md §a6);
    * nullable=false everywhere per the reference's dense model.
    */
  val schema: StructType = StructType(Seq(
    StructField("address", BinaryType, nullable = false),
    StructField("block", LongType, nullable = false),
    StructField("isStorage", BooleanType, nullable = false),
    StructField("nonce", LongType, nullable = false),
    StructField("incarnation", LongType, nullable = false),
    StructField("balance", BinaryType, nullable = false),
    StructField("codeHash", BinaryType, nullable = false),
    StructField("slot", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false)))
}
