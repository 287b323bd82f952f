package apbench

import graft.sources.EvmLogs

/** The HCL schema rpc_backfill runs, and the rows it must produce,
  * computed straight from the chain so no output is checked against the
  * program itself.
  *
  * `swaps` is shaped like the reference's flagship contract query: per
  * contract transforms, a filter and a ternary in the save block. `mints`
  * is shaped like its global-event query and keeps `timestamp`, so every
  * matching block costs one header call. */
object Chain {
  /** contract address -> decimals of its `parse_decimals` transform */
  val swapContracts: Seq[(Long, Int)] = Seq(7L -> 2, 21L -> 3, 42L -> 2, 63L -> 4, 84L -> 3)
  val sideCut = 0.25

  val schemaHcl: String = {
    val contracts = swapContracts.map { case (addr, d) =>
      s"""  contract {
         |    address = $addr
         |    event Swap { outputs = ["value"] }
         |    transform { amount = parse_decimals(value, $d) }
         |  }
         |""".stripMargin
    }.mkString
    s"""query mints {
       |  chain = "ethereum"
       |  event Mint { outputs = ["value"] }
       |  save {
       |    timestamp = timestamp
       |    block = blocknumber
       |    tx = tx_hash
       |    contract = contract_address
       |    value = value
       |  }
       |}
       |
       |query swaps {
       |  chain = "ethereum"
       |$contracts  filter = [ amount != 0 ]
       |  save {
       |    block = blocknumber
       |    tx = tx_hash
       |    contract = contract_address
       |    amount = amount
       |    side = amount > $sideCut ? "buy" : "sell"
       |  }
       |}
       |""".stripMargin
  }

  def config(endpoint: String): String =
    s"""rpc:
       |  ethereum: $endpoint
       |""".stripMargin

  /** The schema's synthetic tx_hash: md5 of "<block>-<contract>". */
  def txHash(block: Long, addr: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$block-$addr".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Canonical row keys, one per expected output row of block `b`; the
    * same keys are built from the CSV lines, so the multisets compare. */
  def expected(b: Long): Seq[String] =
    EvmLogs.fetchBlockLogs(b).flatMap { case (bn, _, _, addr, topic, value) =>
      if (topic == "Mint")
        Seq(mintKey(EvmLogs.blockTime(bn), bn, txHash(bn, addr), addr, value))
      else if (topic == "Swap") swapContracts.find(_._1 == addr).toSeq.flatMap { case (_, d) =>
        val amount = value / math.pow(10.0, d)
        if (amount != 0) Seq(swapKey(bn, txHash(bn, addr), addr, amount, if (amount > sideCut) "buy" else "sell"))
        else Nil
      }
      else Nil
    }

  def mintKey(ts: Long, block: Long, tx: String, addr: Long, value: Double): String =
    s"mints|$ts|$block|$tx|$addr|$value"
  def swapKey(block: Long, tx: String, addr: Long, amount: Double, side: String): String =
    s"swaps|$block|$tx|$addr|$amount|$side"

  /** Order-insensitive 64-bit hash of a multiset of keys. */
  def multisetHash(keys: Iterable[String]): Long = {
    var h = 0L
    keys.foreach { k =>
      val a = scala.util.hashing.MurmurHash3.stringHash(k, 0x9747b28c).toLong
      val b = scala.util.hashing.MurmurHash3.stringHash(k, 0x5bd1e995).toLong
      h += (a << 32) ^ (b & 0xffffffffL)
    }
    h
  }
}
