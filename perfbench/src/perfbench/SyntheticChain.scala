package perfbench

import graft.beacon.{ChainConfig, SlotFetcher}

/** Per-slot block contents, drawn from a seeded stream keyed by
  * (seed, slot, variant). Counts are what the parser must emit per table,
  * so the oracle below never parses JSON: it re-draws the same shape. */
final case class BlockShape(
    slot: Long, present: Boolean, variant: Int,
    attestations: Int, transactions: Int, withdrawals: Int,
    deposits: Int, exits: Int, proposerSlashings: Int,
    attesterSlashings: Int, blsChanges: Int, blobs: Int,
    erDeposits: Int, erWithdrawals: Int, erConsolidations: Int,
    electra: Boolean) {

  /** Rows each structured table gets from this block. */
  def rows: Map[String, Long] =
    if (!present) SyntheticChain.tables.map(_ -> 0L).toMap
    else Map(
      "blocks" -> 1L,
      "attestations" -> attestations.toLong,
      "deposits" -> deposits.toLong,
      "voluntary_exits" -> exits.toLong,
      "proposer_slashings" -> proposerSlashings.toLong,
      "attester_slashings" -> attesterSlashings.toLong,
      "sync_aggregates" -> 1L,
      "execution_payloads" -> 1L,
      "transactions" -> transactions.toLong,
      "withdrawals" -> withdrawals.toLong,
      "bls_changes" -> blsChanges.toLong,
      "blob_commitments" -> blobs.toLong,
      "execution_requests" ->
        (if (electra && erDeposits + erWithdrawals + erConsolidations > 0) 1L else 0L))
}

/** Seeded synthetic beacon chain over Gnosis slot timing.
  *
  * What varies, and why:
  *  - fork era: slots before `ChainConfig.gnosis`'s Electra activation carry
  *    no `execution_requests`; after it, a share do (the parser's fork-aware
  *    nulls and the Electra-only table);
  *  - `emptyShare` of slots are missed (fetch returns None);
  *  - skewed counts: attestations, transactions and withdrawals have a long
  *    tail, so per-table write sizes are uneven;
  *  - rare deposits, exits, slashings and BLS changes (tiny tables);
  *  - blob commitments (Deneb and later, both sides of the boundary);
  *  - re-fetches: a `refetchShare` of chunks is fetched a second time
  *    (generation 1). Half of those slots return the same payload again,
  *    half a changed one (variant 1), so payload-hash dedup and the
  *    latest-retrieval window both see real duplicates.
  */
final case class SyntheticChain(
    seed: Long, generation: Int = 0,
    emptyShare: Double = 0.05, refetchShare: Double = 0.2) extends SlotFetcher {

  def fetch(slot: Long): Option[String] = {
    val b = shape(slot, variantOf(slot, generation))
    if (b.present) Some(SyntheticChain.json(b)) else None
  }

  /** Generation 1 changes half of the slots it re-fetches. */
  def variantOf(slot: Long, gen: Int): Int =
    if (gen > 0 && SyntheticChain.unit(seed, slot, 7) < 0.5) 1 else 0

  /** Whether the re-fetch wave covers the chunk starting at `chunkStart`. */
  def refetched(chunkStart: Long): Boolean =
    SyntheticChain.unit(seed, chunkStart, 11) < refetchShare

  def shape(slot: Long, variant: Int): BlockShape = {
    val r = new java.util.SplittableRandom(SyntheticChain.mix(seed, slot, 1))
    val present = r.nextDouble() >= emptyShare
    // the variant perturbs counts with a stream of its own, so variant 0
    // is identical across generations and variant 1 differs from it
    val v = new java.util.SplittableRandom(SyntheticChain.mix(seed, slot, 100 + variant))
    def skew(base: Int, tailP: Double, tail: Int) =
      base + (if (v.nextDouble() < tailP) v.nextInt(tail) else 0)
    def rare(p: Double, max: Int) = if (v.nextDouble() < p) 1 + v.nextInt(max) else 0
    val electra = slot >= SyntheticChain.electraSlot
    BlockShape(
      slot, present, variant,
      attestations = skew(1 + v.nextInt(6), 0.15, 48),
      transactions = if (v.nextDouble() < 0.3) 0 else skew(v.nextInt(12), 0.1, 150),
      withdrawals = skew(v.nextInt(4), 0.2, 12),
      deposits = rare(0.02, 4),
      exits = rare(0.01, 2),
      proposerSlashings = rare(0.002, 1),
      attesterSlashings = rare(0.003, 2),
      blsChanges = rare(0.01, 3),
      blobs = if (v.nextDouble() < 0.6) 0 else 1 + v.nextInt(6),
      erDeposits = if (electra) rare(0.08, 2) else 0,
      erWithdrawals = if (electra) rare(0.04, 2) else 0,
      erConsolidations = if (electra) rare(0.02, 1) else 0,
      electra = electra)
  }
}

object SyntheticChain {
  val cfg: ChainConfig = ChainConfig.gnosis
  val electraSlot: Long = cfg.activationSlot("electra").get

  val tables: Seq[String] = Seq(
    "blocks", "attestations", "deposits", "voluntary_exits",
    "proposer_slashings", "attester_slashings", "sync_aggregates",
    "execution_payloads", "transactions", "withdrawals", "bls_changes",
    "blob_commitments", "execution_requests")

  def mix(seed: Long, slot: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + slot * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(seed: Long, key: Long, salt: Long): Double =
    (mix(seed, key, salt) >>> 11) * (1.0 / (1L << 53))

  private def hex(n: Long, bytes: Int): String = {
    val h = java.lang.Long.toHexString(n & Long.MaxValue)
    val width = bytes * 2
    if (h.length >= width) "0x" + h.takeRight(width) else "0x" + "0" * (width - h.length) + h
  }

  private def q(s: String) = "\"" + s + "\""

  /** Beacon API v2 block envelope for one shape (fields as strings, like
    * the real API). */
  def json(b: BlockShape): String = {
    val s = b.slot
    val sb = new StringBuilder(4096)
    def arr[T](n: Int)(f: Int => String): String =
      (0 until n).map(f).mkString("[", ",", "]")
    val atts = arr(b.attestations) { i =>
      s"""{"aggregation_bits":${q(hex(mix(s, i, 3), 16))},"data":{"slot":"${s - 1}","index":"$i","beacon_block_root":${q(hex(mix(s, i, 4), 32))},"source":{"epoch":"${(s - 32) / 16}","root":${q(hex(s, 32))}},"target":{"epoch":"${s / 16}","root":${q(hex(s + 1, 32))}}},"signature":${q(hex(mix(s, i, 5), 96))}}"""
    }
    val deposits = arr(b.deposits) { i =>
      s"""{"proof":[${q(hex(i, 32))}],"data":{"pubkey":${q(hex(mix(s, i, 6), 48))},"withdrawal_credentials":${q(hex(i, 32))},"amount":"32000000000","signature":${q(hex(i, 96))}}}"""
    }
    val exits = arr(b.exits) { i =>
      s"""{"message":{"epoch":"${s / 16}","validator_index":"${(mix(s, i, 8) & 0xfffff)}"},"signature":${q(hex(i, 96))}}"""
    }
    def header(k: Int) =
      s"""{"message":{"slot":"${s - k}","proposer_index":"${s % 1000}","parent_root":${q(hex(k, 32))},"state_root":${q(hex(k + 1, 32))},"body_root":${q(hex(k + 2, 32))}},"signature":${q(hex(k, 96))}}"""
    val propSl = arr(b.proposerSlashings)(i => s"""{"signed_header_1":${header(i + 1)},"signed_header_2":${header(i + 2)}}""")
    def indexed(i: Int, k: Int) =
      s"""{"attesting_indices":["${i * 10 + k}","${i * 10 + k + 1}"],"data":{"slot":"${s - 1}","index":"${i + k}","beacon_block_root":${q(hex(k, 32))},"source":{"epoch":"1","root":${q(hex(k, 32))}},"target":{"epoch":"2","root":${q(hex(k, 32))}}},"signature":${q(hex(k, 96))}}"""
    val attSl = arr(b.attesterSlashings)(i => s"""{"attestation_1":${indexed(i, 0)},"attestation_2":${indexed(i, 1)}}""")
    val bls = arr(b.blsChanges) { i =>
      s"""{"message":{"validator_index":"${(mix(s, i, 9) & 0xfffff)}","from_bls_pubkey":${q(hex(i, 48))},"to_execution_address":${q(hex(i, 20))}},"signature":${q(hex(i, 96))}}"""
    }
    val txs = arr(b.transactions)(i => q(hex(mix(s, i, 10), 40 + (i % 5) * 20)))
    val wds = arr(b.withdrawals) { i =>
      s"""{"index":"${s * 64 + i}","validator_index":"${(mix(s, i, 12) & 0x3ffff)}","address":${q(hex(mix(s, i, 13), 20))},"amount":"${1000 + (mix(s, i, 14) & 0xffffff)}"}"""
    }
    val blobs = arr(b.blobs)(i => q(hex(mix(s, i, 15), 48)))
    sb.append(s"""{"version":${q(if (b.electra) "electra" else "deneb")},"execution_optimistic":false,"finalized":true,"data":{"message":{""")
    sb.append(s""""slot":"$s","proposer_index":"${mix(s, b.variant, 16) & 0x3ffff}","parent_root":${q(hex(s - 1, 32))},"state_root":${q(hex(mix(s, 0, 17), 32))},"body":{""")
    sb.append(s""""randao_reveal":${q(hex(mix(s, 0, 18), 96))},"eth1_data":{"deposit_root":${q(hex(s / 1000, 32))},"deposit_count":"${s / 1000}","block_hash":${q(hex(s / 1000 + 1, 32))}},""")
    sb.append(s""""graffiti":${q(hex(b.variant.toLong, 32))},"proposer_slashings":$propSl,"attester_slashings":$attSl,"attestations":$atts,"deposits":$deposits,"voluntary_exits":$exits,""")
    sb.append(s""""sync_aggregate":{"sync_committee_bits":${q(hex(mix(s, 0, 19), 64))},"sync_committee_signature":${q(hex(s, 96))}},""")
    sb.append(s""""execution_payload":{"parent_hash":${q(hex(s - 1, 32))},"fee_recipient":${q(hex(s % 97, 20))},"state_root":${q(hex(s, 32))},"receipts_root":${q(hex(s, 32))},"logs_bloom":${q(hex(0, 256))},"prev_randao":${q(hex(s, 32))},""")
    sb.append(s""""block_number":"${s - 1000000}","gas_limit":"17000000","gas_used":"${mix(s, 0, 20) & 0xffffff}","timestamp":"${cfg.genesisTimeUnix + s * cfg.secondsPerSlot}","extra_data":"0x","base_fee_per_gas":"7","block_hash":${q(hex(mix(s, b.variant, 21), 32))},""")
    sb.append(s""""transactions":$txs,"withdrawals":$wds,"blob_gas_used":"${b.blobs * 131072}","excess_blob_gas":"0"},""")
    sb.append(s""""bls_to_execution_changes":$bls,"blob_kzg_commitments":$blobs""")
    if (b.electra) {
      val erd = arr(b.erDeposits)(i => s"""{"pubkey":${q(hex(i, 48))},"withdrawal_credentials":${q(hex(i, 32))},"amount":"1000000000","signature":${q(hex(i, 96))},"index":"$i"}""")
      val erw = arr(b.erWithdrawals)(i => s"""{"source_address":${q(hex(i, 20))},"validator_pubkey":${q(hex(i, 48))},"amount":"0"}""")
      val erc = arr(b.erConsolidations)(i => s"""{"source_address":${q(hex(i, 20))},"source_pubkey":${q(hex(i, 48))},"target_pubkey":${q(hex(i + 1, 48))}}""")
      sb.append(s""","execution_requests":{"deposits":$erd,"withdrawals":$erw,"consolidations":$erc}""")
    }
    sb.append(s"""}},"signature":${q(hex(mix(s, 0, 22), 96))}}}""")
    sb.toString
  }
}

/** Exact expected counts for a set of ingested ranges. */
object ChainOracle {
  /** Rows per table after the latest-retrieval dedup: the last generation
    * that fetched a slot wins. `refetchedChunks` holds the starts of the
    * chunks the generation-1 wave re-fetched. */
  def expectedRows(
      chain: SyntheticChain, ranges: Seq[(Long, Long)],
      refetchedChunks: Set[Long]): Map[String, Long] = {
    val acc = scala.collection.mutable.Map(SyntheticChain.tables.map(_ -> 0L): _*)
    ranges.foreach { case (a, e) =>
      val gen = if (refetchedChunks(a)) 1 else 0
      var s = a
      while (s <= e) {
        chain.shape(s, chain.variantOf(s, gen)).rows.foreach { case (t, n) => acc(t) += n }
        s += 1
      }
    }
    acc.toMap
  }

  def presentSlots(chain: SyntheticChain, a: Long, e: Long): Long =
    (a to e).count(s => chain.shape(s, 0).present).toLong
}
