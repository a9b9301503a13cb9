package graft.streaming

import java.sql.Timestamp

/** Typed event/output rows for the streaming pipelines (SURVEY §1.1).
  * Timestamps are java.sql.Timestamp so Spark treats them as event-time
  * columns (watermarkable).
  */
final case class EntityEvent(
    eventId: String,
    ts: Timestamp,
    entityId: String,
    eventType: String,
    value: Option[Long],
    geo: Option[String],
    device: Option[String])

final case class Alert(
    ts: Timestamp,
    rule: String,
    entityId: String,
    severity: String,
    rateNow: Double,
    threshold: Double)

final case class CdpEvent(
    eventId: String,
    ts: Timestamp,
    eventType: String, // IDENTIFY | TRACK | ALIAS
    userId: Option[String],
    anonymousId: Option[String],
    email: Option[String],
    name: Option[String],
    traits: Map[String, String])

final case class SegmentEvent(
    profileId: String,
    segment: String,
    action: String, // ENTER | EXIT
    ts: Timestamp)

final case class ProfileSnapshot(
    profileId: String,
    userIds: Seq[String],
    emails: Seq[String],
    anonymousIds: Seq[String],
    traits: Map[String, String],
    trackCount24h: Long,
    lastSeen: Timestamp,
    segments: Seq[String])

/** One profile's micro-batch through `CdpPipeline.fold`: its segment
  * events in fold order, and its snapshot if the batch changed it.
  */
final case class CdpFold(
    profileId: String, events: Seq[SegmentEvent], snapshot: Option[ProfileSnapshot])
