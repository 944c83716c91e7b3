{{ config(materialized='table') }}
SELECT business_id, date FROM {{ source('yelp', 'checkin') }}
