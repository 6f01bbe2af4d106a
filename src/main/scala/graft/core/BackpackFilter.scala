package graft.core

import Bits._

/** Counter semantics of a [[BackpackFilter]] slot.
  *
  * Mirrors the reference's count codecs:
  *  - [[CountMode.Exact]]: saturating exact counts
  *    (/root/reference/src/bqf_ec.cpp:148-154, add /root/reference/src/bqf_ec.cpp:120-133)
  *  - [[CountMode.OrderOfMagnitude]]: stores floor(log2(count)), queries
  *    return `1 << stored` — a lower bound
  *    (/root/reference/src/bqf_oom.cpp:112-125)
  */
sealed abstract class CountMode(val tag: Int) extends Serializable
object CountMode {
  case object Exact extends CountMode(0)
  case object OrderOfMagnitude extends CountMode(1)
  def fromTag(t: Int): CountMode = if (t == 1) OrderOfMagnitude else Exact
}

/** Per-sequence Fimpera query statistics, mirroring the reference
  * `result_query` struct (/root/reference/src/additional_methods.hpp:248-253).
  */
final case class SequenceStats(minimum: Long, maximum: Long, average: Double, presenceRatio: Double)

/** A Backpack Quotient Filter: a dynamically-resizable counting quotient
  * filter storing 64-bit fingerprints split into an implicit quotient (slot
  * address, low `qBits` bits) and a stored remainder, with a per-slot
  * abundance counter packed into the low `countBits` bits of the slot value.
  *
  * Structure re-derived from vicLeva/bqf (see /root/repo/SURVEY.md §1-2):
  * 64-slot blocks carrying three metadata words (offset, occupieds bitvector,
  * runends bitvector — /root/reference/src/additional_methods.hpp:13-18)
  * followed by `slotBits` words of packed slot values; runs are kept sorted
  * ascending so membership inside a run is a binary search
  * (/root/reference/src/abstract_bqf.cpp:59-97); the table is circular
  * ("toric": runs shifted past the last slot wrap to slot 0); load factor is
  * capped at 95% after which the table doubles by moving one bit from
  * remainder to quotient (/root/reference/src/rsqf.cpp:19,418-437).
  *
  * This is a single-JVM mutable structure; distribution happens in the Spark
  * layer by building one filter per partition and merging associatively
  * ([[BackpackFilter.mergeInPlace]]).
  *
  * @param hashBits fingerprint width in bits (<= 63 effective remainder+count
  *                 packing requires hashBits - qBits + countBits <= 63)
  * @param kTokens  k-gram length for Fimpera sequence queries (tokens)
  * @param zTokens  k - s; a k-gram's abundance = min over its z+1 s-grams
  */
final class BackpackFilter(
    initialQBits: Int,
    val countBits: Int,
    val hashBits: Int,
    val mode: CountMode,
    val kTokens: Int,
    val zTokens: Int,
    val seed: Long = 0L,
) extends Serializable {

  require(initialQBits >= 7, s"quotient bits $initialQBits < 7")
  require(countBits >= 1 && countBits <= 32, s"count bits $countBits out of range")
  require(hashBits >= initialQBits + 1 && hashBits <= 64, s"hash bits $hashBits invalid")
  require(hashBits - initialQBits + countBits <= 63,
    s"slot width ${hashBits - initialQBits + countBits} > 63 (hashBits=$hashBits q=$initialQBits c=$countBits)")

  /** Tokens per s-gram (the inserted unit): s = k - z. */
  def sTokens: Int = kTokens - zTokens

  // ---- mutable state (changes on resize) ----
  private var qBits: Int = initialQBits
  private var slotBits: Int = hashBits - qBits + countBits // remainder + counter
  private var table: Array[Long] = new Array[Long](wordsFor(qBits, slotBits))
  private var sizeLimit: Long = ((1L << qBits) * 0.95).toLong
  private var nDistinct: Long = 0L

  @inline private def wordsPerBlock: Int = 3 + slotBits
  @inline private def numBlocks: Long = 1L << (qBits - 6)
  @inline private def numSlots: Long = 1L << qBits
  private def wordsFor(q: Int, sb: Int): Int = {
    val words = (1L << (q - 6)) * (3 + sb)
    require(words <= Int.MaxValue, s"filter too large: $words words")
    words.toInt
  }

  def quotientBits: Int = qBits
  /** Effective remainder bits r; the per-query false-positive bound is 2^-r. */
  def remainderBits: Int = hashBits - qBits
  def distinctCount: Long = nDistinct
  def capacity: Long = sizeLimit
  def sizeInWords: Int = table.length
  /** Raw packed table for reference-format export: the in-memory block
    * layout (offset word, occupieds, runends, 64 slots of
    * `hashBits-q+countBits` bits per 64-slot block) IS the reference's
    * on-disk word layout (rsqf.cpp:452-460), so
    * [[graft.sources.ReferenceFormat.save]] dumps these words verbatim.
    */
  private[graft] def rawTableWords: Array[Long] = table

  // =====================================================================
  // metadata word accessors (offset word 0, occupieds 1, runends 2)
  // =====================================================================
  @inline private def blockBase(block: Long): Int = (block * wordsPerBlock).toInt
  @inline private def offsetAt(block: Long): Long = table(blockBase(block))
  @inline private def occWordAt(block: Long): Long = table(blockBase(block) + 1)
  @inline private def runWordAt(block: Long): Long = table(blockBase(block) + 2)
  @inline private def setOffsetAt(block: Long, v: Long): Unit = table(blockBase(block)) = v
  @inline private def setRunWordAt(block: Long, v: Long): Unit = table(blockBase(block) + 2) = v
  @inline private def bumpOffset(block: Long): Unit = table(blockBase(block)) += 1
  @inline private def dropOffset(block: Long): Unit = {
    val i = blockBase(block)
    if (table(i) > 0) table(i) -= 1
  }
  private def setOccBit(block: Long, bit: Int, value: Long): Unit = {
    val i = blockBase(block) + 1
    table(i) = if (value != 0) table(i) | (1L << bit) else table(i) & ~(1L << bit)
  }
  private def setRunBit(block: Long, bit: Int, value: Long): Unit = {
    val i = blockBase(block) + 2
    table(i) = if (value != 0) table(i) | (1L << bit) else table(i) & ~(1L << bit)
  }
  @inline private def isOccupied(quot: Long): Boolean =
    ((occWordAt(quot >>> 6) >>> (quot & 63L).toInt) & 1L) != 0L
  @inline private def isRunEnd(p: Long): Boolean =
    ((runWordAt(p >>> 6) >>> (p & 63L).toInt) & 1L) != 0L

  // =====================================================================
  // slot accessors
  // =====================================================================
  /** Absolute bit position of slot `p`'s value in the packed table. */
  @inline private def slotBitPos(p: Long): Long = {
    val block = p >>> 6
    block * (wordsPerBlock.toLong << 6) + (3L << 6) + (p & 63L) * slotBits
  }
  /** Full slot value: (remainder << countBits) | storedCount. */
  @inline private def slotValue(p: Long): Long = getBits(table, slotBitPos(p), slotBits)
  /** Remainder part only. */
  @inline private def remAt(p: Long): Long = slotValue(p) >>> countBits

  // circular navigation
  @inline private def nextSlot(p: Long): Long = if (p + 1 < numSlots) p + 1 else 0L
  @inline private def prevSlot(p: Long): Long = if (p > 0) p - 1 else numSlots - 1
  @inline private def nextBlock(b: Long): Long = if (b + 1 < numBlocks) b + 1 else 0L
  @inline private def prevBlock(b: Long): Long = if (b > 0) b - 1 else numBlocks - 1

  /** Word index of the word holding the start of slot `p`'s value. */
  @inline private def slotWordIdx(p: Long): Long =
    (p >>> 6) * wordsPerBlock + 3 + ((p & 63L) * slotBits >>> 6)
  /** Bit offset of slot `p`'s value within its starting word. */
  @inline private def slotWordShift(p: Long): Int = (((p & 63L) * slotBits) & 63L).toInt

  /** Circular successor in the slot-value region (skips the 3 metadata
    * words when crossing into the next block).
    */
  @inline private def nextSlotWord(w: Long): Long = {
    val inBlock = w % wordsPerBlock
    if (inBlock != wordsPerBlock - 1) w + 1
    else nextBlock(w / wordsPerBlock) * wordsPerBlock + 3
  }

  // =====================================================================
  // run navigation (rank/select over occupieds/runends with block offsets)
  // =====================================================================

  /** A slot position with a boolean flag packed into bit 62 (positions are
    * < 2^q <= 2^62).
    */
  @inline private def packed(pos: Long, flag: Boolean): Long =
    if (flag) pos | BackpackFilter.FlagBit else pos

  /** Position of the runend of `quot`'s run, plus whether the walk crossed
    * out of `quot`'s block (toricity marker). Requires a consistent table;
    * mirrors the offset-jump + select walk of the reference
    * (/root/reference/src/rsqf.cpp:762-815).
    */
  private def runEndOf(quot: Long): Long = {
    val block = quot >>> 6
    val shift = (quot & 63L).toInt
    val off = offsetAt(block)

    if (shift == 0) {
      if (off <= 1) return packed(quot, false)
      else return packed((quot + off - 1) & (numSlots - 1), off - 1 >= 64)
    }

    var nRuns = rank(occWordAt(block) & maskLeft(63), shift).toLong
    if (nRuns == 0) {
      val off0 = if (off == 0) 0 else off - 1
      return packed(((block << 6) + off0) & (numSlots - 1), off0 >= 64)
    }

    val posAfterJump = ((block << 6) + off) & (numSlots - 1)
    var curBlock = posAfterJump >>> 6
    var crossed = block != curBlock
    val jumpShift = (posAfterJump & 63L).toInt
    val mask = maskLeft(64 - jumpShift)
    var sel = select(runWordAt(curBlock) & mask, nRuns)
    nRuns -= rank(runWordAt(curBlock) & mask, 63)
    var guard = numBlocks + 2
    while (sel == 64) {
      crossed = true
      curBlock = nextBlock(curBlock)
      sel = select(runWordAt(curBlock), nRuns)
      nRuns -= rank(runWordAt(curBlock), 63)
      guard -= 1
      if (guard < 0) throw new IllegalStateException(s"runEndOf($quot): runend walk did not terminate")
    }
    packed((curBlock << 6) + sel, crossed)
  }

  /** First slot of `quot`'s run — or, when `occupied` is false, the slot
    * where a new run for `quot` would begin. Mirrors
    * /root/reference/src/rsqf.cpp:818-936 including the shift-0 special case.
    */
  private def runStartOf(quot: Long, occupied: Boolean): Long = {
    val block = quot >>> 6
    val shift = (quot & 63L).toInt
    val offRaw = offsetAt(block)
    val off = if (offRaw == 0) 0 else offRaw - 1
    val posAfterJump = ((block << 6) + off) & (numSlots - 1)

    if (shift == 0) return runStartShift0(quot, posAfterJump, off, occupied)

    var nRuns = rank(occWordAt(block), shift - 1).toLong
    val jumpShift = (posAfterJump & 63L).toInt
    val slot0Occupied = isOccupied(block << 6)
    val mask = maskLeft(64 - jumpShift - (if (slot0Occupied) 0 else 1))

    var curBlock = block
    var sel = 0
    if (off < 64) { // jump stays in quot's own block
      if (nRuns == 0)
        return if (posAfterJump < quot) quot else nextSlot(posAfterJump)
      sel = select(runWordAt(curBlock) & mask, nRuns)
      if (sel < shift) return quot
    } else { // jumped into a further block
      if (nRuns == 0) return nextSlot(posAfterJump)
      curBlock = posAfterJump >>> 6
      sel = select(runWordAt(curBlock) & mask, nRuns)
    }
    nRuns -= rank(runWordAt(curBlock) & mask, 63)

    var guard = numBlocks + 2
    while (sel == 64) {
      curBlock = nextBlock(curBlock)
      sel = select(runWordAt(curBlock), nRuns)
      nRuns -= rank(runWordAt(curBlock), 63)
      guard -= 1
      if (guard < 0) throw new IllegalStateException(s"runStartOf($quot): select walk did not terminate")
    }
    ((curBlock << 6) + sel + 1) & (numSlots - 1)
  }

  /** Runstart for quotients at slot 0 of their block, where the offset word
    * points at the end of *this* quotient's run rather than a predecessor's
    * (/root/reference/src/rsqf.cpp:894-936).
    */
  private def runStartShift0(quot: Long, posAfterJump: Long, off: Long, occupied: Boolean): Long = {
    val occBit = if (occupied) 1L else 0L
    var curBlock = quot >>> 6
    var nthRunend = 0L
    if (off < 64) { // same block
      nthRunend = rank(runWordAt(curBlock), (posAfterJump & 63L).toInt).toLong
      if (nthRunend - occBit <= 0) return quot
      val lastEnd = select(runWordAt(curBlock), nthRunend - occBit)
      return nextSlot((curBlock << 6) + lastEnd)
    }
    // jumped into a further block
    val finalBlock = posAfterJump >>> 6
    while (curBlock != finalBlock) {
      nthRunend += rank(runWordAt(curBlock), 63)
      curBlock = nextBlock(curBlock)
    }
    nthRunend += rank(runWordAt(curBlock), (posAfterJump & 63L).toInt)
    if (nthRunend - occBit <= 0) return quot
    curBlock = quot >>> 6
    var guard = numBlocks + 2
    while (nthRunend > 64 || select(runWordAt(curBlock), nthRunend - occBit) == 64) {
      nthRunend -= rank(runWordAt(curBlock), 63)
      curBlock = nextBlock(curBlock)
      guard -= 1
      if (guard < 0) throw new IllegalStateException(s"runStartShift0($quot) did not terminate")
    }
    val lastEnd = select(runWordAt(curBlock), nthRunend - occBit)
    nextSlot((curBlock << 6) + lastEnd)
  }

  @inline private def runEndPos(quot: Long): Long = runEndOf(quot) & ~BackpackFilter.FlagBit

  /** The right edge of the shift window an update at `quot` moves. For an
    * insert, the first free slot at/after `quot`
    * (reference src/rsqf.cpp:730-759); for a delete, the first slot
    * that is unused or starts its own run (reference src/rsqf.cpp:696-728).
    */
  private def shiftWindowEnd(quot0: Long, forDelete: Boolean): Long = {
    val Flag = BackpackFilter.FlagBit
    var quot = quot0
    var r = runEndOf(quot)
    var endPos = r & ~Flag
    var crossed = (r & Flag) != 0
    @inline def emptyShift0(p: Long, c: Boolean): Boolean =
      (p & 63L) == 0 && !c && offsetAt(p >>> 6) == 0
    if (emptyShift0(endPos, crossed)) return quot
    var guard = numSlots + 2
    while (crossed || quot < endPos || (!forDelete && quot == endPos)) {
      quot = nextSlot(endPos)
      if (forDelete && runStartOf(quot, isOccupied(quot)) == quot) return endPos
      r = runEndOf(quot)
      endPos = r & ~Flag; crossed = (r & Flag) != 0
      if (emptyShift0(endPos, crossed)) return quot
      guard -= 1
      if (guard < 0) throw new IllegalStateException("shiftWindowEnd did not terminate (filter full?)")
    }
    quot
  }

  // =====================================================================
  // shifting machinery
  // =====================================================================

  /** Shift slot values one slot to the right over [startSlot, endSlot)
    * (circularly, word by word, skipping metadata words) and place
    * `newValue` at `startSlot` (/root/reference/src/rsqf.cpp:482-559).
    */
  private def shiftSlotsAndSet(startSlot: Long, endSlot: Long, newValue: Long): Unit = {
    var curWord = slotWordIdx(startSlot)
    var curShift = slotWordShift(startSlot)
    val after = nextSlot(endSlot)
    val endWord = slotWordIdx(after)
    val endShift = slotWordShift(after)
    var carry = newValue
    val sb = slotBits
    val sbMask = maskRight(sb)

    while (curWord != endWord) {
      val w = curWord.toInt
      // bits pushed out of this word by the shift
      var pushedOut = (table(w) & maskLeft(sb)) >>> (64 - sb)
      val keepMask = maskRight(curShift)
      val keep = table(w) & keepMask
      table(w) = ((table(w) & ~keepMask) << sb) | keep | ((carry & sbMask) << curShift)

      val room = 64 - curShift
      if (room < sb) { // the placed value spans into the next (consecutive) word
        val spill = sb - room
        val spillMask = maskRight(spill)
        val keep2 = table(w + 1) & spillMask
        table(w + 1) = (table(w + 1) & ~spillMask) | ((carry & sbMask) >>> room)
        pushedOut = (pushedOut >>> spill) | (keep2 << room)
        curShift = spill
      } else {
        curShift = 0
      }
      carry = pushedOut
      curWord += 1
      if (curWord % wordsPerBlock == 0) curWord += 3
      if (curWord >= table.length) curWord -= table.length
    }

    val w = curWord.toInt
    val keepMask = maskLeft(64 - endShift) | maskRight(curShift)
    val keep = table(w) & keepMask
    table(w) = ((table(w) & ~keepMask) << sb) | keep | ((carry & sbMask) << curShift)
  }

  /** Shift slot values one slot to the left over (startSlot, endSlot] —
    * the delete path — zeroing the vacated `endSlot`
    * (/root/reference/src/rsqf.cpp:561-593).
    */
  private def shiftSlotsBackAndClear(startSlot: Long, endSlot: Long): Unit = {
    var curWord = slotWordIdx(startSlot)
    var curShift = slotWordShift(startSlot)
    var srcWord = curWord
    var srcShift = curShift
    var s = startSlot
    val sb = slotBits
    while (s != endSlot) {
      s = nextSlot(s)
      if (curShift + sb >= 64) {
        srcShift = sb - (64 - curShift)
        srcWord = nextSlotWord(curWord)
      } else {
        srcShift = curShift + sb
        srcWord = curWord
      }
      val v = getBits(table, (srcWord << 6) + srcShift, sb)
      setBits(table, (curWord << 6) + curShift, v, sb)
      curWord = srcWord
      curShift = srcShift
    }
    setBits(table, (curWord << 6) + curShift, 0L, sb)
  }

  /** Offset update of an insert (`grow`) or delete at `quot` whose shift
    * window ends at `endPos`: the run covering each block's first slot in
    * [quot, endPos] (circularly from `quot`) now ends one slot later or
    * earlier.
    */
  private def shiftOffsets(quot: Long, endPos: Long, grow: Boolean): Unit = {
    val slotMask = numSlots - 1
    val endLin = quot + ((endPos - quot) & slotMask)
    var s = (quot + 63L) & ~63L
    while (s <= endLin) {
      if (grow) bumpOffset((s & slotMask) >>> 6) else dropOffset((s & slotMask) >>> 6)
      s += 64
    }
  }

  /** Insert-path runend shift: the runends in [startPos, endPos) move one
    * slot right, and `newRunBit` (1 when the insert starts a run) enters at
    * `startPos` (reference src/rsqf.cpp:952-1033).
    */
  private def shiftRunendsForInsert(newRunBit: Long, startPos: Long, endPos: Long): Unit = {
    var curBlock = startPos >>> 6
    var curShift = (startPos & 63L).toInt
    val endBlock = endPos >>> 6
    val endShift = (endPos & 63L).toInt
    var overflow = newRunBit

    @inline def shiftWholeWordTail(): Unit = {
      val w = runWordAt(curBlock)
      val saveRight = w & maskRight(curShift)
      var shifted = shl(shr(w, curShift), curShift + 1)
      shifted |= saveRight | shl(overflow, curShift)
      setRunWordAt(curBlock, shifted)
      overflow = w >>> 63
      curBlock = nextBlock(curBlock)
      curShift = 0
    }

    // run starting near the end of the filter wrapping to the front: shift
    // through the table end once, then continue from block 0
    if (curBlock == endBlock && startPos > endPos) shiftWholeWordTail()
    while (curBlock != endBlock) shiftWholeWordTail()

    val w = runWordAt(curBlock)
    val saveLeft = w & maskLeft(64 - endShift)
    val saveRight = w & maskRight(curShift)
    var shifted = ((w & maskRight(endShift)) & maskLeft(64 - curShift)) << 1
    shifted |= saveLeft | shl(overflow, curShift) | saveRight
    setRunWordAt(curBlock, shifted)
  }

  /** Shift one runend word left by 1 over [startShift, endShift], pulling in
    * the next block's first runend bit when the window runs on into that
    * block (reference src/rsqf.cpp:1036-1053).
    */
  private def shiftRunWordBack(startShift: Int, endShift: Int, block: Long, pullNext: Boolean): Unit = {
    var w = runWordAt(block)
    val saveRight = w & maskRight(startShift)
    val saveLeft = w & maskLeft(64 - endShift - 1)
    w &= maskLeft(64 - startShift)
    w &= maskRight(endShift + 1)
    w >>>= 1
    val overflow = if (pullNext) shl(runWordAt(nextBlock(block)) & 1L, 63) else 0L
    setRunWordAt(block, w | saveRight | saveLeft | overflow)
  }

  /** Delete-path runend shift: the runends in [startPos, endPos] move one
    * slot left; nothing past `endPos` moves
    * (reference src/rsqf.cpp:1055-1109).
    */
  private def shiftRunendsForDelete(startPos: Long, endPos: Long): Unit = {
    var curBlock = startPos >>> 6
    var curShift = (startPos & 63L).toInt
    val endBlock = endPos >>> 6

    if (curShift == 0) {
      val prev = prevBlock(curBlock)
      val overflow = shl(runWordAt(curBlock) & 1L, 63)
      setRunWordAt(prev, runWordAt(prev) | overflow)
    }

    if (curBlock == endBlock && startPos > endPos) {
      shiftRunWordBack(curShift, 63, curBlock, pullNext = true)
      curBlock = nextBlock(curBlock)
      curShift = 0
    }
    while (curBlock != endBlock) {
      shiftRunWordBack(curShift, 63, curBlock, pullNext = true)
      curBlock = nextBlock(curBlock)
      curShift = 0
    }
    shiftRunWordBack(curShift, (endPos & 63L).toInt, curBlock, pullNext = false)
  }

  // =====================================================================
  // count codec
  // =====================================================================
  @inline private def countMask: Long = maskRight(countBits)
  @inline private def countMax: Long = (1L << countBits) - 1L

  /** Encode an abundance for storage (clamp / floor-log2). */
  @inline private[graft] def encodeCount(count: Long): Long = mode match {
    case CountMode.Exact =>
      if (count >= countMax) countMax else if (count < 0) 0 else count
    case CountMode.OrderOfMagnitude =>
      if (count <= 0) 0
      else {
        val e = 63 - java.lang.Long.numberOfLeadingZeros(count)
        if (e >= countMax) countMax else e.toLong
      }
  }

  /** Decode a stored count into the reported abundance. */
  @inline private def decodeCount(stored: Long): Long = mode match {
    case CountMode.Exact            => stored
    case CountMode.OrderOfMagnitude => 1L << stored
  }

  /** Combine a stored count with an incoming *encoded* count on duplicate
    * insert: saturating add for exact counters
    * (/root/reference/src/bqf_ec.cpp:120-133), no-op for order-of-magnitude
    * (/root/reference/src/bqf_oom.cpp:112-114).
    */
  private def bumpCounter(pos: Long, incomingSlot: Long): Unit = mode match {
    case CountMode.Exact =>
      val old = slotValue(pos)
      var sum = (old & countMask) + (incomingSlot & countMask)
      if (sum >= (1L << countBits)) sum = countMax
      setBits(table, slotBitPos(pos), (old & ~countMask) | sum, slotBits)
    case CountMode.OrderOfMagnitude => ()
  }

  /** Merge-path counter combine: saturating add for exact, max of exponents
    * for order-of-magnitude (deliberate mergeable extension — the reference
    * is single-filter; see SURVEY.md §2.e).
    */
  private def mergeCounter(pos: Long, incomingStored: Long): Unit = mode match {
    case CountMode.Exact =>
      bumpCounter(pos, incomingStored & countMask)
    case CountMode.OrderOfMagnitude =>
      val old = slotValue(pos)
      val merged = math.max(old & countMask, incomingStored & countMask)
      setBits(table, slotBitPos(pos), (old & ~countMask) | merged, slotBits)
  }

  // =====================================================================
  // core operations
  // =====================================================================

  /** Binary search for `rem` inside a run, exploiting the ascending order of
    * remainders: its position flagged [[found]], or else the insertion
    * point, flagged `EndsRun` when that follows the run's last remainder
    * (reference src/abstract_bqf.cpp:59-97).
    */
  private def findInRun(runStart: Long, runEnd: Long, rem: Long): Long = {
    val qMask = maskRight(qBits)
    val last = if (runEnd < runStart) runEnd | (1L << qBits) else runEnd
    var left = runStart
    var right = last
    var position = 0L
    var flag = 0L
    var continue = true
    while (continue) {
      val middle = (left + right) >>> 1
      position = middle & qMask
      val inFilter = remAt(position)
      val cmp = java.lang.Long.compareUnsigned(inFilter, rem)
      if (cmp == 0) { flag = BackpackFilter.FlagBit; continue = false }
      else if (left == right) {
        if (cmp < 0) {
          if (middle == last) flag = BackpackFilter.EndsRun
          position = nextSlot(position)
        }
        continue = false
      }
      else if (cmp > 0) right = middle
      else left = middle + 1
      if (continue && left > right) continue = false
    }
    position | flag
  }

  @inline private def found(hit: Long): Boolean = (hit & BackpackFilter.FlagBit) != 0
  @inline private def slotOf(hit: Long): Long = hit & BackpackFilter.PosMask

  /** The one run lookup behind every point operation: [[findInRun]] over
    * `fp`'s quotient's run. An unoccupied quotient answers `Vacant` alone,
    * so a miss there reads one bit.
    */
  private def lookup(fp: Long): Long = {
    val quot = fp & maskRight(qBits)
    if (!isOccupied(quot)) return BackpackFilter.Vacant
    findInRun(runStartOf(quot, occupied = true), runEndPos(quot), (fp & maskRight(hashBits)) >>> qBits)
  }

  /** Find `fp`, inserting it with the encoded count `stored` when absent;
    * the [[lookup]] result says which (found: the caller updates the
    * counter). The table grows before an insert that would reach the 95%
    * cap. A duplicate only bumps its counter, so it never grows the table:
    * the quotient then depends on the distinct count alone, as in
    * [[BackpackFilter.fromEntries]].
    */
  private def upsert(fp: Long, stored: Long): Long = {
    var hit = lookup(fp)
    if (!found(hit)) {
      if (nDistinct + 1 >= sizeLimit) { resize(1); hit = lookup(fp) }
      insert(fp, hit, stored)
    }
    hit
  }

  /** Insert the absent `fp` where the [[lookup]] miss `hit` puts it: shift
    * the cluster one slot right up to the first free slot, carrying the
    * runends and block offsets along (reference src/abstract_bqf.cpp:101-167).
    */
  private def insert(fp: Long, hit: Long, stored: Long): Unit = {
    val quot = fp & maskRight(qBits)
    val newRun = hit == BackpackFilter.Vacant
    val pos = if (newRun) runStartOf(quot, occupied = false) else slotOf(hit)
    val fus = shiftWindowEnd(quot, forDelete = false)
    if (newRun) setOccBit(quot >>> 6, (quot & 63L).toInt, 1L)
    // a new run ends at its one slot; a remainder past the run's last one
    // takes the runend over, so the runends shift from its predecessor
    val runendsFrom = if ((hit & BackpackFilter.EndsRun) != 0) prevSlot(pos) else pos
    shiftOffsets(quot, fus, grow = true)
    shiftRunendsForInsert(if (newRun) 1L else 0L, runendsFrom, fus)
    nDistinct += 1
    shiftSlotsAndSet(pos, fus, ((fp & maskRight(hashBits)) >>> qBits << countBits) | (stored & countMask))
  }

  /** Insert `count` occurrences of fingerprint `fp` (auto-resizes at the 95%
    * load cap). Duplicate fingerprints accumulate in the counter
    * (reference src/abstract_bqf.cpp:101-167).
    */
  def add(fp: Long, count: Long = 1L): Unit = {
    val stored = encodeCount(count)
    val hit = upsert(fp, stored)
    if (found(hit)) bumpCounter(slotOf(hit), stored)
  }

  /** Counting-filter insert: returns true exactly on the *second* insertion
    * of `fp` (count bit 0 -> 1). Requires countBits == 1; the streaming
    * "seen at least twice" filter (/root/reference/src/bqf_cf.cpp:119-183).
    */
  def addReturningSecond(fp: Long): Boolean = {
    require(countBits == 1, "addReturningSecond requires countBits == 1")
    val hit = upsert(fp, 0L) // a first occurrence stores count bit 0
    found(hit) && {
      val pos = slotOf(hit)
      val old = slotValue(pos)
      val second = (old & 1L) == 0L
      if (second) setBits(table, slotBitPos(pos), old | 1L, slotBits)
      second
    }
  }

  /** Abundance of fingerprint `fp`; 0 when absent
    * (/root/reference/src/abstract_bqf.cpp:250-262). Subject to the 2^-r
    * false-positive bound: an absent fp may alias a present one's count.
    */
  def abundance(fp: Long): Long = {
    if (nDistinct == 0) return 0L
    val hit = lookup(fp)
    if (found(hit)) decodeCount(slotValue(slotOf(hit)) & countMask) else 0L
  }

  /** Membership test (abundance > 0). */
  def contains(fp: Long): Boolean = abundance(fp) != 0L

  /** Remove up to `count` occurrences of `fp`: decrements the counter, or
    * structurally removes the slot when the full abundance is removed
    * (/root/reference/src/bqf_ec.cpp:30-115).
    */
  def remove(fp: Long, count: Long = 1L): Boolean = {
    if (nDistinct == 0) return false
    val hit = lookup(fp)
    if (!found(hit)) return false
    val pos = slotOf(hit)
    val quot = fp & maskRight(qBits)

    val old = slotValue(pos)
    val stored = old & countMask
    if (mode == CountMode.Exact && count < stored) {
      setBits(table, slotBitPos(pos), (old & ~countMask) | (stored - count), slotBits)
      return true
    }

    val endSlot = shiftWindowEnd(quot, forDelete = true)
    // a run's only remainder is both its runend and its run's start, which
    // is the quotient's own slot or follows another run's runend
    val onlyInRun = isRunEnd(pos) && (pos == quot || isRunEnd(prevSlot(pos)))
    if (onlyInRun) setOccBit(quot >>> 6, (quot & 63L).toInt, 0L)
    // Every block boundary in [quot, endSlot] loses a slot of its covering
    // run — also for an isolated run, whose offsets the reference leaves
    // stale when it sits in a later block than its quotient
    // (rsqf.cpp:355-361 decrements only at shift 0; found by the round-4
    // churn differential, fixed here rather than replicated, SURVEY §7.4).
    shiftOffsets(quot, endSlot, grow = false)
    // an isolated run only drops its runend
    if (onlyInRun && pos == endSlot) setRunBit(endSlot >>> 6, (endSlot & 63L).toInt, 0L)
    else shiftRunendsForDelete(pos, endSlot)
    shiftSlotsBackAndClear(pos, endSlot)
    nDistinct -= 1
    true
  }

  /** The one table walk, as a resumable cursor over every stored entry in
    * layout order: quotients ascending from slot 0, remainders ascending
    * within a run. Runs sit canonically, each starting at max(its quotient,
    * the previous runend + 1), so the walk pairs the occupied quotients with
    * the runends in order — one linear pass, no rank/select per quotient.
    * It starts where quotient 0's run starts (or would start), just past
    * the runs that wrap over the last slot; those are read when their
    * quotients come up, at linear positions past `numSlots` under the slot
    * mask.
    */
  private final class Walk {
    private val slotMask = numSlots - 1
    private var nextFree = runStartOf(0L, isOccupied(0L))
    private val limit = nextFree + numSlots
    private var block = 0L
    private var occ = occWordAt(0L) // occupied quotients of `block` not yet visited
    private var slot = 0L           // linear position of the current entry
    private var runEnd = -1L        // linear runend of the current run
    /** Quotient of the current entry. */
    var quot = 0L

    /** Step to the next entry; false once every entry has been visited. */
    def next(): Boolean = {
      if (slot < runEnd) { slot += 1; return true }
      while (occ == 0) {
        block += 1
        if (block >= numBlocks) return false
        occ = occWordAt(block)
      }
      quot = (block << 6) + java.lang.Long.numberOfTrailingZeros(occ)
      occ &= occ - 1
      slot = math.max(quot, nextFree)
      // the runend at or after slot, a word at a time
      var pos = slot
      runEnd = -1L
      while (runEnd < 0) {
        if (pos >= limit) throw new IllegalStateException(s"table walk: run of quotient $quot has no runend")
        val p = pos & slotMask
        val w = runWordAt(p >>> 6) >>> (p & 63L).toInt
        if (w != 0) runEnd = pos + java.lang.Long.numberOfTrailingZeros(w)
        else pos = (pos | 63L) + 1
      }
      nextFree = runEnd + 1
      true
    }

    /** Slot value (remainder << countBits | stored count) of the current entry. */
    def value: Long = slotValue(slot & slotMask)
  }

  /** Visit every (fingerprint, storedCount) pair — the raw enumeration the
    * merge and resize paths build on (reference src/abstract_bqf.cpp:264-300).
    * Public visitor form: `(Long, Long) => Unit` is @specialized, so bulk
    * consumers (the distributed re-shard merge) pay zero boxing per entry —
    * unlike the tuple iterator [[rawEntries]]. Both ride the one linear
    * walk, in quotient order from slot 0.
    */
  def foreachRaw(f: (Long, Long) => Unit): Unit = {
    val w = new Walk
    while (w.next()) {
      val sv = w.value
      f(rebuildFingerprint(w.quot, sv >>> countBits, qBits), sv & countMask)
    }
  }

  /** Diagnostic dump of block metadata and slot contents — debugging aid
    * for layout investigations (offsets, occupied/runend bitmaps LSB-first,
    * nonzero slots as idx:rem+count). Not used on any hot path.
    */
  def debugDump(fromBlock: Long = 0L, nBlocksMax: Long = 64L): String = {
    val sb = new StringBuilder
    sb ++= s"qBits=$qBits countBits=$countBits hashBits=$hashBits nDistinct=$nDistinct blocks=$numBlocks\n"
    def bits(w: Long): String = (0 until 64).map(i => if (((w >>> i) & 1L) != 0) '1' else '.').mkString
    var b = fromBlock
    val end = math.min(numBlocks, fromBlock + nBlocksMax)
    while (b < end) {
      sb ++= f"block $b%3d offset=${offsetAt(b)}%3d\n  occ=${bits(occWordAt(b))}\n  run=${bits(runWordAt(b))}\n  slots:"
      var i = 0
      while (i < 64) {
        val sv = slotValue((b << 6) + i)
        if (sv != 0) sb ++= s" $i:r${sv >>> countBits}c${sv & countMask}"
        i += 1
      }
      sb += '\n'
      b += 1
    }
    sb.toString
  }

  /** All (fingerprint, decoded abundance) pairs currently stored. */
  def enumerate(): Map[Long, Long] = {
    val b = Map.newBuilder[Long, Long]
    foreachRaw((fp, stored) => b += fp -> decodeCount(stored))
    val m = b.result()
    assert(m.size == nDistinct, s"enumerate found ${m.size} != elementsInside $nDistinct")
    m
  }

  /** Lazy raw enumeration — (fingerprint, storedCount) streamed without
    * materializing the sketch's contents anywhere: the form the distributed
    * explode/merge operators flatMap over (a 2^q-entry shard would otherwise
    * cost ~6x its own size in boxed tuples per task). The same linear walk
    * and order as [[foreachRaw]].
    */
  def rawEntries(): Iterator[(Long, Long)] = new Iterator[(Long, Long)] {
    private val w = new Walk
    private var ready = w.next()
    def hasNext: Boolean = ready
    def next(): (Long, Long) = {
      if (!ready) throw new NoSuchElementException("rawEntries: no more entries")
      val sv = w.value
      val out = (rebuildFingerprint(w.quot, sv >>> countBits, qBits), sv & countMask)
      ready = w.next()
      out
    }
  }

  /** Iterator form of [[enumerate]] for explode-style Spark output:
    * [[rawEntries]] with counts decoded (exact: identity; oom: 1 << stored).
    */
  def entries(): Iterator[(Long, Long)] =
    rawEntries().map { case (fp, stored) => (fp, decodeCount(stored)) }

  /** Grow the table by `n` quotient bits (halving remainder width), keeping
    * every stored (fingerprint, count) exactly. Strategy: enumerate +
    * rebuild — the differential-test oracle the reference pins its in-place
    * resize against (/root/reference/test/resize_tests.cpp:209-230).
    */
  def resize(n: Int): Unit = {
    if (n <= 0) return
    require(hashBits - (qBits + n) >= 1, s"cannot resize: remainder would vanish (q=$qBits n=$n hash=$hashBits)")
    adopt(BackpackFilter.mergeAtLeast(Seq(this), qBits + n))
  }

  /** Take over another (parameter-compatible) filter's state. */
  private def adopt(f: BackpackFilter): Unit = {
    qBits = f.qBits
    slotBits = f.slotBits
    table = f.table
    sizeLimit = f.sizeLimit
    nDistinct = f.nDistinct
  }

  /** Associative, order-insensitive in-place merge: fold `other`'s entries
    * in with saturating-add (exact) / max (oom) counter combine; auto-resize
    * handles capacity. min(min(a+b,M)+c,M) == min(a+b+c,M) for non-negative
    * counts, so merge order does not affect results (SURVEY.md §2.e). The
    * result is byte-identical to [[BackpackFilter.mergeAll]] of the two.
    */
  def mergeInPlace(other: BackpackFilter): BackpackFilter = {
    require(other.hashBits == hashBits && other.countBits == countBits && other.mode == mode
      && other.kTokens == kTokens && other.zTokens == zTokens,
      "cannot merge filters with different parameters")
    // bulk path for real shard merges: gather + sort + one sequential build,
    // O(n) regardless of load factor (per-insert merge degrades badly on
    // dense tables — the shift window grows with cluster length). But when
    // `other` is SMALL relative to this filter — the steady-state shape of
    // streaming ingest, where a micro-batch delta folds into a large shard
    // (IndexIngest.ingestBatch) — the incremental path costs
    // O(|other| × cluster) instead of the rebuild's O(|this| + |other|),
    // turning per-batch merge cost from O(store) into O(batch).
    // (the incremental path keeps this filter's q as the floor, so it only
    // applies when `other` does not carry a larger one)
    if (other.nDistinct > math.max(4096L, nDistinct / 8) || other.qBits > qBits)
      adopt(BackpackFilter.mergeAll(Seq(this, other)))
    else other.foreachRaw { (fp, stored) =>
      val hit = upsert(fp, stored)
      if (found(hit)) mergeCounter(slotOf(hit), stored)
    }
    this
  }

  // =====================================================================
  // Fimpera sequence queries over token arrays
  // =====================================================================

  /** Fingerprint of one s-gram window. */
  @inline def fingerprintAt(tokens: Array[Int], from: Int): Long =
    Fingerprint.hashWindow(tokens, from, sTokens, seed) & maskRight(hashBits)

  /** Per-sequence statistics: each k-gram's abundance is the min over its
    * z+1 constituent s-gram abundances (ring buffer, O(1) amortized per
    * position); aggregates min / max / average / presence ratio over all
    * n-k+1 k-grams (/root/reference/src/abstract_bqf.cpp:195-248). A k-gram
    * with any absent s-gram counts as absent and forces minimum = 0.
    */
  def sequenceStats(tokens: Array[Int]): SequenceStats = {
    val k = kTokens
    val s = sTokens
    val n = tokens.length
    if (n < k) return SequenceStats(0L, 0L, 0.0, 0.0)
    if (k == s && s == n)  {
      val res = abundance(fingerprintAt(tokens, 0))
      return SequenceStats(res, res, res.toDouble, if (res != 0) 1.0 else 0.0)
    }
    val z = k - s
    val ring = new Array[Long](z + 1)
    var nPresent = 0L
    var sum = 0L
    var minimum = Long.MaxValue
    var maximum = 0L

    // prefix: abundances of the first z s-grams (indices 0 .. z-1)
    var i = 0
    while (i < z) {
      ring(i) = abundance(fingerprintAt(tokens, i))
      i += 1
    }
    // slide over all k-gram ends
    var kgramStart = 0
    while (kgramStart + k <= n) {
      val lastSmer = kgramStart + z
      ring(lastSmer % (z + 1)) = abundance(fingerprintAt(tokens, lastSmer))
      var kAbund = Long.MaxValue
      var j = 0
      while (j <= z) {
        if (ring(j) < kAbund) kAbund = ring(j)
        j += 1
      }
      if (kAbund == 0) minimum = 0
      else {
        if (kAbund < minimum) minimum = kAbund
        if (kAbund > maximum) maximum = kAbund
        sum += kAbund
        nPresent += 1
      }
      kgramStart += 1
    }
    val nKgrams = (n - k + 1).toDouble
    if (nPresent == 0 && minimum == Long.MaxValue) minimum = 0
    SequenceStats(minimum, maximum, sum / nKgrams, nPresent / nKgrams)
  }

  // =====================================================================
  // serialization (8-field header + packed words, mirroring the on-disk
  // layout idea of /root/reference/src/abstract_bqf.cpp:512-529, extended
  // with hashBits/mode/seed which the reference fixes at compile time)
  // =====================================================================
  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * 11 + table.length * 8)
    bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(qBits.toLong).putLong(slotBits.toLong).putLong(countBits.toLong)
      .putLong(kTokens.toLong).putLong(zTokens.toLong).putLong(sizeLimit)
      .putLong(numBlocks).putLong(nDistinct)
      .putLong(hashBits.toLong).putLong(mode.tag.toLong).putLong(seed)
    // table words as one bulk copy on little-endian hosts (bit-identical to
    // the per-word LE putLong loop it replaces): serialize sits on every
    // blob move — shard outputs, shuffle merges, store appends — and the
    // per-long loop was ~2 ns x 10^8 words per large build
    if (java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN)
      org.apache.spark.unsafe.Platform.copyMemory(
        table, org.apache.spark.unsafe.Platform.LONG_ARRAY_OFFSET,
        bb.array(), org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8 * 11,
        table.length * 8L)
    else {
      var i = 0
      while (i < table.length) { bb.putLong(table(i)); i += 1 }
    }
    bb.array()
  }
}

object BackpackFilter {
  /** High bit used to pack a boolean flag next to a slot position. */
  final val FlagBit: Long = 1L << 62
  /** The lookup's two flags beside FlagBit (found): an absent remainder's
    * insert slot ends its run; the quotient is unoccupied.
    */
  private final val EndsRun: Long = 1L << 61
  private final val Vacant: Long = 1L << 60
  private final val PosMask: Long = Vacant - 1

  /** Quotient sizing rule from the reference help text: one bit of headroom
    * over the expected distinct count (q = ceil(log2(n)) + 1, min 7).
    */
  def suggestQBits(expectedDistinct: Long): Int = {
    val q = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, expectedDistinct) - 1) + 1
    math.max(7, q)
  }

  /** Smallest q whose 95% load cap admits `n` distinct entries. */
  def tightQBits(n: Long): Int = {
    var q = 7
    while ((((1L << q) * 0.95).toLong) <= n && q < 62) q += 1
    q
  }

  /** Rotated sort key ordering fingerprints by (destination quotient,
    * remainder) lexicographically — the physical layout order of the table.
    */
  @inline private def rotKey(fp: Long, q: Int, hashBits: Int): Long =
    ((fp & maskRight(q)) << (hashBits - q)) | (fp >>> q)

  @inline private def unrotate(key: Long, q: Int, hashBits: Int): Long = {
    val rem = key & maskRight(hashBits - q)
    val quot = key >>> (hashBits - q)
    (rem << q) | quot
  }

  /** Stable LSD radix sort of `keys` by their bits [lowBit, highBit)
    * (unsigned order), carrying `vals` along unless it is null —
    * O(n * (highBit - lowBit)/12), no recursion, immune to adversarial
    * orders. The keys-only form (`vals == null`) serves the all-ones build
    * path: carrying a value array of uniform ones through every pass would
    * double the sort's memory traffic, and shard builds are bound by
    * memory bandwidth. 12-bit digits measured ~30% faster than 8-bit on
    * shard-sized inputs (4 passes instead of 6 for 48-bit keys; the
    * 4096-entry histogram still lives in L1/L2, unlike 16-bit digits which
    * thrash the TLB with 65k write streams).
    */
  private def radixSort(keys: Array[Long], vals: Array[Long], n: Int, lowBit: Int, highBit: Int): Unit = {
    if (n <= 1) return
    // at most 12-bit digits, balanced: 20 quotient bits sort in two
    // 10-bit passes, not a 12-bit and an 8-bit one
    val passes = (highBit - lowBit + 11) / 12
    val digit = (highBit - lowBit + passes - 1) / passes
    val buckets = 1 << digit
    val mask = (buckets - 1).toLong
    var srcK = keys; var dstK = new Array[Long](n)
    var srcV = vals; var dstV = if (vals == null) null else new Array[Long](n)
    var pass = 0
    while (pass < passes) {
      val shift = lowBit + pass * digit
      val count = new Array[Int](buckets + 1)
      var i = 0
      while (i < n) { count((((srcK(i) >>> shift) & mask) + 1).toInt) += 1; i += 1 }
      i = 1
      while (i <= buckets) { count(i) += count(i - 1); i += 1 }
      i = 0
      if (vals == null) while (i < n) {
        val b = ((srcK(i) >>> shift) & mask).toInt
        val at = count(b)
        dstK(at) = srcK(i)
        count(b) = at + 1
        i += 1
      } else while (i < n) {
        val b = ((srcK(i) >>> shift) & mask).toInt
        val at = count(b)
        dstK(at) = srcK(i)
        dstV(at) = srcV(i)
        count(b) = at + 1
        i += 1
      }
      val tk = srcK; srcK = dstK; dstK = tk
      val tv = srcV; srcV = dstV; dstV = tv
      pass += 1
    }
    if (srcK ne keys) {
      System.arraycopy(srcK, 0, keys, 0, n)
      if (vals != null) System.arraycopy(srcV, 0, vals, 0, n)
    }
  }

  /** Finish a merge's sort after [[radixSort]] over the quotient bits
    * alone: each input enumerates in its own layout order with a quotient
    * no wider than the target's, so the stable pass leaves every quotient
    * group a concatenation of ascending runs, one per input. Groups already
    * ascending stay as they are; the rest take a merge sort, O(m log m) for
    * a group of m — so even input where every entry shares one quotient
    * sorts in O(n log n). Keys of one group share their top bits, so
    * signed comparison orders them as unsigned.
    */
  private def sortGroups(keys: Array[Long], vals: Array[Long], n: Int, remShift: Int): Unit = {
    var tmpK: Array[Long] = null
    var tmpV: Array[Long] = null
    var i = 0
    while (i < n) {
      val quot = keys(i) >>> remShift
      var ascending = true
      var j = i + 1
      while (j < n && (keys(j) >>> remShift) == quot) {
        if (keys(j) < keys(j - 1)) ascending = false
        j += 1
      }
      if (!ascending) {
        val half = (j - i + 1) / 2
        if (tmpK == null || tmpK.length < half) { tmpK = new Array[Long](half); tmpV = new Array[Long](half) }
        mergeSort(keys, vals, i, j, tmpK, tmpV)
      }
      i = j
    }
  }

  /** Stable top-down merge sort of keys[lo, hi) carrying vals; `tmpK` and
    * `tmpV` hold at least (hi - lo + 1) / 2 entries.
    */
  private def mergeSort(keys: Array[Long], vals: Array[Long], lo: Int, hi: Int,
                        tmpK: Array[Long], tmpV: Array[Long]): Unit =
    if (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      mergeSort(keys, vals, lo, mid, tmpK, tmpV)
      mergeSort(keys, vals, mid, hi, tmpK, tmpV)
      if (keys(mid - 1) > keys(mid)) {
        val len = mid - lo
        System.arraycopy(keys, lo, tmpK, 0, len)
        System.arraycopy(vals, lo, tmpV, 0, len)
        var a = 0; var b = mid; var o = lo
        while (a < len && b < hi) {
          if (keys(b) < tmpK(a)) { keys(o) = keys(b); vals(o) = vals(b); b += 1 }
          else { keys(o) = tmpK(a); vals(o) = tmpV(a); a += 1 }
          o += 1
        }
        while (a < len) { keys(o) = tmpK(a); vals(o) = tmpV(a); a += 1; o += 1 }
      }
    }

  /** The sort quotient of a build: the q the quotient rule gives `n`
    * entries if none are duplicates, at least `floorQ` and below
    * `hashBits`. It is the final q unless duplicates shrink the entry
    * count across a 95% cap, so most builds sort once.
    */
  private def sortQuotient(floorQ: Int, n: Long, hashBits: Int): Int =
    math.max(floorQ, math.min(tightQBits(n), hashBits - 1))

  /** Bulk-build a filter from (fingerprint, storedCount) entry arrays in a
    * single sequential pass — the one construction path behind every built
    * sketch (shard builds, UDAF buffers, merge, resize). The RSQF layout is
    * canonical (runs in quotient order, each starting at max(quotient,
    * previous end + 1), remainders ascending), so building from sorted
    * entries yields a table bit-identical to incremental insertion;
    * property tests assert exactly that.
    *
    * Quotient rule: q is the smallest value >= `qBits` whose 95% load cap
    * admits the deduplicated entry count. Producers pass qBits = 7, so a
    * sketch's bytes depend only on its parameters and its entries.
    *
    * Sort quotient: the entries are sorted once, in the layout order of the
    * q the rule gives `n0` distinct entries ([[sortQuotient]]); they are
    * re-sorted once only when duplicates shrink the entry count across a
    * 95% cap.
    *
    * `combine`: how to fold duplicate fingerprints' stored counts
    * (saturating add for exact, max for oom).
    *
    * `counts == null` means every entry is ONE occurrence (the plain index
    * build): each stores the encoded count 1 (`encodeCount(1)`: 1 exact, 0
    * order-of-magnitude), exactly what `add(fp)` stores. The sort then
    * moves keys only (half the radix memory traffic) and the combine folds
    * duplicates as above — results identical to passing an explicit array
    * of encoded ones.
    */
  def fromEntries(qBits: Int, countBits: Int, hashBits: Int, mode: CountMode,
                  kTokens: Int, zTokens: Int, seed: Long,
                  fps: Array[Long], counts: Array[Long], n0: Int): BackpackFilter = {
    val sortQ = sortQuotient(qBits, n0, hashBits)
    val keys = new Array[Long](n0)
    var i = 0
    while (i < n0) { keys(i) = rotKey(fps(i) & maskRight(hashBits), sortQ, hashBits); i += 1 }
    build(qBits, sortQ, countBits, hashBits, mode, kTokens, zTokens, seed,
      keys, if (counts == null) null else java.util.Arrays.copyOf(counts, n0), n0, grouped = false)
  }

  /** The build behind [[fromEntries]] and [[mergeAll]]. `keys` holds the
    * entries' [[rotKey]]s at the sort quotient `sortQ` and `vals` their
    * stored counts (null: all ones); both are owned and overwritten.
    * `grouped`: the entries are layout-order enumerations of filters whose
    * quotients are at most `sortQ`, so sorting by the quotient bits and
    * then the out-of-order groups ([[sortGroups]]) sorts them in full.
    */
  private def build(floorQ: Int, sortQ: Int, countBits: Int, hashBits: Int, mode: CountMode,
                    kTokens: Int, zTokens: Int, seed: Long,
                    keys: Array[Long], vals0: Array[Long], n0: Int, grouped: Boolean): BackpackFilter = {
    // 1. sort by physical layout order
    val allOnes = vals0 == null
    if (grouped) {
      radixSort(keys, vals0, n0, hashBits - sortQ, hashBits)
      sortGroups(keys, vals0, n0, hashBits - sortQ)
    } else radixSort(keys, vals0, n0, 0, hashBits)
    val vals = if (allOnes) new Array[Long](n0) else vals0

    // 2. combine duplicate fingerprints
    val cMax = (1L << countBits) - 1
    val one = mode match { // encodeCount(1)
      case CountMode.Exact            => 1L
      case CountMode.OrderOfMagnitude => 0L
    }
    var w = 0
    var i = 0
    while (i < n0) {
      var c = if (allOnes) one else vals(i)
      var j = i + 1
      while (j < n0 && keys(j) == keys(i)) {
        val cj = if (allOnes) one else vals(j)
        c = mode match {
          case CountMode.Exact            => math.min(c + cj, cMax)
          case CountMode.OrderOfMagnitude => math.max(c, cj)
        }
        j += 1
      }
      keys(w) = keys(i); vals(w) = math.min(c, cMax); w += 1
      i = j
    }
    val n = w
    // smallest q >= floorQ with n < 0.95 * 2^q — exactly where incremental
    // insertion's resize trigger (nDistinct + 1 >= sizeLimit) lands
    var q = floorQ
    while ((((1L << q) * 0.95).toLong) <= n) q += 1
    require(hashBits - q >= 1, s"entries exceed hash space (n=$n hashBits=$hashBits)")
    if (q != sortQ) {
      // quotient width changed: keys must be re-rotated; re-sort once
      i = 0
      while (i < n) { keys(i) = rotKey(unrotate(keys(i), sortQ, hashBits), q, hashBits); i += 1 }
      return build(q, q, countBits, hashBits, mode, kTokens, zTokens, seed, keys, vals, n, grouped = false)
    }

    val f = new BackpackFilter(q, countBits, hashBits, mode, kTokens, zTokens, seed)
    if (n == 0) return f
    val numSlots = 1L << q
    val remShift = hashBits - q

    // 3. group into runs (consecutive equal quotients)
    var nRuns = 0
    i = 0
    while (i < n) {
      var j = i + 1
      val quot = keys(i) >>> remShift
      while (j < n && (keys(j) >>> remShift) == quot) j += 1
      nRuns += 1
      i = j
    }
    val runQuot = new Array[Long](nRuns)
    val runFrom = new Array[Int](nRuns)
    val runLen = new Array[Int](nRuns)
    var r = 0
    i = 0
    while (i < n) {
      var j = i + 1
      val quot = keys(i) >>> remShift
      while (j < n && (keys(j) >>> remShift) == quot) j += 1
      runQuot(r) = quot; runFrom(r) = i; runLen(r) = j - i
      r += 1
      i = j
    }

    // 4. leftmost-feasible placement in linear coordinates, iterated until
    //    the toric carry (runs wrapping past the last slot) stabilizes
    val runPos = new Array[Long](nRuns)
    var carry = 0L
    var stable = false
    var guard = 0
    while (!stable) {
      var nextFree = carry
      r = 0
      while (r < nRuns) {
        runPos(r) = math.max(runQuot(r), nextFree)
        nextFree = runPos(r) + runLen(r)
        r += 1
      }
      val newCarry = math.max(0L, nextFree - numSlots)
      stable = newCarry == carry
      carry = newCarry
      guard += 1
      if (guard > 64) throw new IllegalStateException("bulk placement did not converge")
    }
    require(carry < runQuot(0) + numSlots, "placement overflow") // sanity at <95% load

    // 5. write slots + metadata
    r = 0
    while (r < nRuns) {
      val quot = runQuot(r)
      val p = runPos(r)
      val e = p + runLen(r) - 1
      f.setOccBit(quot >>> 6, (quot & 63L).toInt, 1L)
      val endSlot = e & (numSlots - 1)
      f.setRunBit(endSlot >>> 6, (endSlot & 63L).toInt, 1L)
      var k = 0
      while (k < runLen(r)) {
        val key = keys(runFrom(r) + k)
        val rem = key & maskRight(remShift)
        val slot = (p + k) & (numSlots - 1)
        setBits(f.table, f.slotBitPos(slot), (rem << countBits) | vals(runFrom(r) + k), f.slotBits)
        k += 1
      }
      // offsets: every 64-aligned linear position s in [quot, e] records how
      // far the last run whose quotient precedes s (in circular cluster
      // order) spills past s. All candidate runs for one boundary belong to
      // the same cluster and their ends increase along cluster order, so the
      // max spill is exactly the last such run — this also resolves the
      // toric seam, where wrapped tail runs and front runs write the same
      // block-0 boundary from different linear frames.
      var s = (quot + 63L) & ~63L
      while (s <= e) {
        val block = (s & (numSlots - 1)) >>> 6
        val spill = e - s + 1
        if (spill > f.offsetAt(block)) f.setOffsetAt(block, spill)
        s += 64
      }
      r += 1
    }
    f.nDistinct = n
    f
  }

  /** Merge many filters into a fresh one via the bulk path: O(total) gather
    * + sort + single-pass build. This is what shuffle-boundary merges
    * use — per-entry insert cost independent of load factor. q follows
    * [[fromEntries]]' rule with the inputs' largest q as the floor.
    *
    * Sort quotient: [[sortQuotient]] of the summed input counts, so
    * disjoint inputs sort once and overlapping ones re-sort when they
    * shrink across a capacity boundary. Every input's q is at most the
    * sort quotient and [[foreachRaw]] enumerates in layout order, so the
    * sort is a radix over the quotient bits only plus a merge sort of the
    * quotient groups whose inputs interleave ([[sortGroups]]).
    */
  def mergeAll(filters: Seq[BackpackFilter]): BackpackFilter =
    mergeAtLeast(filters, filters.map(_.quotientBits).max)

  /** [[mergeAll]] with the quotient floor `floorQ` (at least every input's
    * q): the merge itself and, for one input, [[BackpackFilter.resize]].
    */
  private def mergeAtLeast(filters: Seq[BackpackFilter], floorQ: Int): BackpackFilter = {
    require(filters.nonEmpty)
    val h = filters.head
    filters.tail.foreach(o => require(
      o.hashBits == h.hashBits && o.countBits == h.countBits && o.mode == h.mode &&
      o.kTokens == h.kTokens && o.zTokens == h.zTokens, "parameter mismatch in mergeAll"))
    val total = filters.map(_.distinctCount).sum
    require(total <= Int.MaxValue - 8, s"mergeAll too large: $total")
    val hashBits = h.hashBits
    val sortQ = sortQuotient(floorQ, total, hashBits)
    val keys = new Array[Long](total.toInt)
    val counts = new Array[Long](total.toInt)
    var i = 0
    filters.foreach { f =>
      val end = i + f.distinctCount
      f.foreachRaw { (fp, c) =>
        if (i == end) throw new IllegalArgumentException(
          s"mergeAll: an input holds more entries than its distinct count ${f.distinctCount}")
        keys(i) = rotKey(fp, sortQ, hashBits); counts(i) = c; i += 1
      }
    }
    build(floorQ, sortQ, h.countBits, hashBits, h.mode, h.kTokens, h.zTokens, h.seed,
      keys, counts, i, grouped = true)
  }

  def apply(qBits: Int, countBits: Int, hashBits: Int = 64, mode: CountMode = CountMode.Exact,
            kTokens: Int = 0, zTokens: Int = 0, seed: Long = 0L): BackpackFilter =
    new BackpackFilter(qBits, countBits, hashBits, mode, kTokens, zTokens, seed)

  /** Largest quotient size whose table fits in `maxBytes` — the reference's
    * memory-driven constructor rule (find_quotient_given_memory,
    * /root/reference/src/rsqf.cpp:153-172, abstract_bqf.cpp:491-509).
    */
  def qBitsForMemory(maxBytes: Long, countBits: Int, hashBits: Int): Int = {
    var q = 62
    while (q >= 7) {
      val slotBits = hashBits - q + countBits
      if (slotBits >= 1 && slotBits <= 63) {
        val words = (1L << math.max(0, q - 6)) * (3 + slotBits)
        if (words * 8 <= maxBytes) return q
      }
      q -= 1
    }
    7
  }

  /** File save/load mirroring the reference CLI's sketch persistence
    * (save_on_disk / load_from_disk, /root/reference/src/abstract_bqf.cpp:512-529).
    */
  def saveToFile(f: BackpackFilter, path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), f.serialize())

  def loadFromFile(path: String): BackpackFilter =
    deserialize(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** The reference's 8-field little-endian u64 header
    * (save_on_disk, /root/reference/src/abstract_bqf.cpp:512-529):
    * quotient_size, remainder_size (slot bits incl. count), count_size,
    * kmer_size, smer_size, size_limit, number_blocks, elements_inside —
    * followed by (1<<q)*(3+remainder_size)/64 table words.
    */
  final case class ReferenceHeader(quotientSize: Int, remainderSize: Int, countSize: Int,
                                   kmerSize: Int, smerSize: Int, sizeLimit: Long,
                                   numberBlocks: Long, elementsInside: Long) {
    def tableWords: Long = (1L << quotientSize) * (3L + remainderSize) / 64L
  }

  /** Header reader for a reference-written `.bqf` file. Full two-way
    * migration lives in [[graft.sources.ReferenceFormat]]: `load` imports
    * the table into a queryable filter in the reference's DNA hash domain,
    * `save` writes a DNA-domain [[BackpackFilter]] back into this exact
    * format (the reference's own `load_from_disk` reads it). Token-domain
    * filters (XXH64 fingerprints) stay in this library's 11-field format —
    * their entries would be meaningless to the reference's DNA query chain.
    */
  def readReferenceHeader(path: String): ReferenceHeader = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    require(bytes.length >= 64, "reference sketch: truncated header")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val h = ReferenceHeader(bb.getLong.toInt, bb.getLong.toInt, bb.getLong.toInt,
      bb.getLong.toInt, bb.getLong.toInt, bb.getLong, bb.getLong, bb.getLong)
    require(h.quotientSize > 0 && h.quotientSize < 64 &&
      h.numberBlocks == (1L << h.quotientSize) / 64,
      s"not a reference-format sketch (q=${h.quotientSize}, blocks=${h.numberBlocks})")
    // a reference file is EXACTLY header + table words; this library's own
    // 11-field format is 24 bytes of extra header, so exact length also
    // rejects an own-format file whose first 8 fields happen to parse
    require(bytes.length == 64 + 8 * h.tableWords,
      s"not a reference-format sketch: ${bytes.length} bytes != 64 + 8*${h.tableWords}")
    h
  }

  def deserialize(bytes: Array[Byte]): BackpackFilter = {
    // untrusted bytes (files, parquet blobs): every header field is bounded
    // BEFORE the table allocation, so a corrupt payload fails with a clear
    // IllegalArgumentException instead of a BufferUnderflow, a negative
    // array size, or a 2^60-slot allocation attempt
    require(bytes.length >= 11 * 8, s"sketch blob truncated: ${bytes.length} bytes < 88-byte header")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val q = bb.getLong.toInt
    val slotBits = bb.getLong.toInt
    val c = bb.getLong.toInt
    val k = bb.getLong.toInt
    val z = bb.getLong.toInt
    val sizeLimit = bb.getLong
    val nBlocks = bb.getLong
    val nDistinct = bb.getLong
    val hashBits = bb.getLong.toInt
    val mode = CountMode.fromTag(bb.getLong.toInt)
    val seed = bb.getLong
    require(q >= 6 && q <= 36, s"corrupt sketch header: qBits=$q")
    require(c >= 0 && c <= 63, s"corrupt sketch header: countBits=$c")
    require(hashBits > q && hashBits <= 64, s"corrupt sketch header: hashBits=$hashBits (q=$q)")
    // size arithmetic BEFORE the table allocation: a corrupt header with
    // individually-plausible fields (e.g. qBits=36) must not reach
    // `new BackpackFilter` — that would attempt the multi-hundred-GB table
    // and die with OutOfMemoryError instead of this IllegalArgumentException
    require(slotBits == hashBits - q + c,
      s"corrupt sketch header: slotBits=$slotBits != hashBits-q+c=${hashBits - q + c}")
    val expectBlocks = 1L << (q - 6)
    require(nBlocks == expectBlocks, s"corrupt sketch header: nBlocks=$nBlocks != $expectBlocks")
    val expectWords = expectBlocks * (3 + slotBits)
    require(bytes.length == 11 * 8 + 8L * expectWords,
      s"sketch blob length ${bytes.length} != expected ${11 * 8 + 8L * expectWords}")
    val f = new BackpackFilter(q, c, hashBits, mode, k, z, seed)
    require(f.slotBits == slotBits && f.numBlocks == nBlocks && f.table.length == expectWords,
      "corrupt sketch header")
    // the load cap follows from q; a copied-in cap could disable the resize
    require(sizeLimit == f.sizeLimit, s"corrupt sketch header: sizeLimit=$sizeLimit != ${f.sizeLimit} (q=$q)")
    require(nDistinct >= 0 && nDistinct < sizeLimit,
      s"corrupt sketch header: nDistinct=$nDistinct outside [0, $sizeLimit)")
    if (java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN)
      org.apache.spark.unsafe.Platform.copyMemory(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8 * 11,
        f.table, org.apache.spark.unsafe.Platform.LONG_ARRAY_OFFSET,
        f.table.length * 8L)
    else {
      var i = 0
      while (i < f.table.length) { f.table(i) = bb.getLong; i += 1 }
    }
    f.nDistinct = nDistinct
    f
  }
}
